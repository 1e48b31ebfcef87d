"""Warehouse sinks (S-3, S-4, S-5).

The reference's sink contract is idempotent daily partition overwrite:
``INSERT OVERWRITE TABLE db.t PARTITION (dt = date ds [, address_hash,
selector_hash])`` (reference: dags/templates/evm_load_template.py:
153-154,203-204,302-303 — mixed static/dynamic partitions for
logs/traces). The engine standardizes on Parquet warehouse tables with
``partitionOverwriteMode=dynamic`` so re-running a day replaces exactly
that day's partitions (plus any hash sub-buckets) and nothing else.

Scale: partition columns are (dt[, address_hash, selector_hash]) — at
100 TB the 10×10 hash-bucket layout keeps per-file sizes sane and lets
decode reads prune to 1/100th of a day. File sizing is AQE's job
(advisoryPartitionSizeInBytes), not a REPARTITION(1) hint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..sources.fs import path_exists


def write_partitioned(
    df: DataFrame,
    table: str,
    ds: str,
    extra_partition_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """S-3: idempotent ``INSERT OVERWRITE ... PARTITION (dt=ds, ...)``.

    Stamps the static ``dt`` partition column then dynamically
    overwrites; ``extra_partition_cols`` carries the logs/traces
    hash-bucket layout. ``path`` writes an external location instead of
    a catalog table (used by tests and file-based deployments).

    Dynamic overwrite is forced per-write (DataFrameWriter option for
    the path mode, a conf guard for the catalog mode) — a caller with a
    default-conf session must never wipe historical partitions.
    """
    out = df.withColumn("dt", F.lit(ds).cast("date"))
    part_cols = ["dt"] + (extra_partition_cols or [])
    if path is not None:
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )
        return
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        (
            out.write.mode("overwrite")
            .partitionBy(*part_cols)
            .format("parquet")
            .saveAsTable(table)
        )
        return
    # insertInto is position-based: align to the table's column order
    # (partition columns land last in saveAsTable layout) or re-running
    # a day fails with CANNOT_SAFELY_CAST / silently miswrites.
    table_cols = spark.table(table).columns
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        out.select(*table_cols).write.mode("overwrite").insertInto(table)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def partitioned_schema(
    df: DataFrame, extra_partition_cols: list[str] | None = None
) -> StructType:
    """The schema to read back what `write_partitioned` (``df``,
    ``extra_partition_cols``) wrote: ``df``'s other columns, then
    ``dt`` (a date) and the extra partition columns in order, all
    nullable, each of ``df``'s type. Inference finds the same schema,
    with a job, when the extra partition columns are ints (the hash
    buckets are): it guesses a partition column's type from its
    directory names."""
    parts = ["dt"] + (extra_partition_cols or [])
    types = {f.name: f.dataType for f in df.schema.fields}
    types["dt"] = DateType()
    return StructType([
        StructField(n, types[n], True)
        for n in [c for c in df.columns if c not in parts] + parts
    ])


def read_day(
    spark: SparkSession,
    path: str,
    ds: str,
    schema: StructType | None = None,
) -> DataFrame:
    """The ``dt = ds`` rows of the table `write_partitioned` keeps at
    ``path``: the day's partition directory alone, read with
    ``basePath`` so ``dt`` and any hash buckets stay columns, without
    listing the table's other days. ``schema`` (the caller's known
    table schema, partition columns last) skips the inference job. A
    day without a partition reads the whole table filtered to the day:
    empty, as a ``dt = ds`` filter over the table is."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    part = f"{path}/dt={ds}"
    if path_exists(spark, part):
        return reader.option("basePath", path).parquet(part)
    return reader.parquet(path).filter(F.col("dt") == F.lit(ds).cast("date"))


def _parquet_or_none(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame | None:
    """Read a parquet path with a known ``schema`` (no inference job),
    returning None only when the path does not exist.

    Any other failure (corrupt file, permissions) propagates, at the
    first action — a transient read error must not be mistaken for an
    empty warehouse, or the dedup append silently duplicates rows.
    """
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def append_dedup(
    staged: DataFrame,
    table: str,
    key: str = "address",
    path: str | None = None,
) -> None:
    """S-4: append only rows whose ``key`` is not already present
    (tokens sink, reference: evm_load_template.py:281-297). Composes the
    J-6 anti-join with an append write."""
    spark = staged.sparkSession
    if path is not None:
        # the key alone, read with the staged key's type
        existing_df = _parquet_or_none(spark, path, staged.select(key).schema)
        if existing_df is not None:
            existing = existing_df.select(key).distinct()
            new = staged.join(existing, key, "left_anti")
        else:
            new = staged
        new.write.mode("append").parquet(path)
    else:
        if spark.catalog.tableExists(table):
            existing = spark.table(table).select(key).distinct()
            table_cols = spark.table(table).columns
            staged.join(existing, key, "left_anti").select(
                *table_cols
            ).write.mode("append").insertInto(table)
        else:
            staged.write.format("parquet").saveAsTable(table)


def write_key_bucketed(
    df: DataFrame, path: str, key: str, n_buckets: int = 64
) -> None:
    """Warehouse layout for key-probe workloads (the J-6 anti-join's
    remaining 100 TB cost is the full warehouse SCAN): hive-partition
    the table on ``key_bucket = pmod(xxhash64(key), n_buckets)`` so a
    batch probing B distinct keys reads at most ``min(B, n_buckets)``
    of the ``n_buckets`` partition directories — partition pruning cuts
    the scan itself, which no join strategy can.

    Same-key rows land in the same bucket by construction, so any
    per-key probe (anti-join, point lookup, upsert match) is complete
    within the selected buckets.
    """
    out = df.withColumn(
        "key_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("key_bucket")
        .parquet(path)
    )
    write_layout_meta(
        df.sparkSession,
        path,
        n_buckets=n_buckets,
        key=key,
        key_type=df.schema[key].dataType.simpleString(),
    )


#: marker file recording a bucketed layout's hash parameters —
#: xxhash64 is type-sensitive and pmod is n_buckets-sensitive, so a
#: reader/merger probing with the wrong key dtype or bucket count
#: silently misses every row; the marker turns that into a loud error
#: (see incremental.merge_additive_bucket_pruned).
LAYOUT_META_FILE = "_bucket_layout.json"


def write_layout_meta(
    spark, path: str, n_buckets: int, key: str, key_type: str
) -> None:
    """Persist the layout contract beside the data (atomic write)."""
    import json

    from ..sources.fs import write_text

    write_text(
        spark,
        os.path.join(path, LAYOUT_META_FILE),
        json.dumps(
            {"n_buckets": n_buckets, "key": key, "key_type": key_type}
        ),
    )


def read_layout_meta(spark, path: str) -> dict | None:
    """The layout contract, or None for a pre-marker (legacy) layout.
    A present-but-unparseable marker raises — guessing the hash
    parameters of a warehouse layout is how history gets dropped."""
    import json

    from ..sources.fs import read_text

    raw = read_text(spark, os.path.join(path, LAYOUT_META_FILE))
    if raw is None:
        return None
    try:
        meta = json.loads(raw)
        return {
            "n_buckets": int(meta["n_buckets"]),
            "key": str(meta["key"]),
            "key_type": str(meta["key_type"]),
        }
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt bucket-layout marker at "
            f"{os.path.join(path, LAYOUT_META_FILE)}: {raw!r}"
        ) from exc


def write_range_clustered(
    df: DataFrame, path: str, order_col: str, n_partitions: int = 32
) -> None:
    """Layout for range-predicate workloads (time windows, id ranges):
    range-repartition on ``order_col`` then sort within partitions, so
    each output file covers a disjoint, internally-sorted slice of the
    column's domain. Parquet footer min/max statistics then let a
    pushed-down range predicate skip every non-overlapping file and
    row group — the scan cost of a window query becomes proportional
    to the window, not the table.

    The complement of `write_key_bucketed`: hash buckets serve point /
    key-set probes, range clustering serves interval scans. (The
    range exchange samples the column to pick balanced split points,
    so skew in ``order_col`` spreads across files instead of piling
    into one.)
    """
    (
        df.repartitionByRange(n_partitions, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    path_in: str,
    path_out: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet location into
    ``ceil(total_bytes / target_bytes)`` files (the nightly maintenance
    pass every incremental warehouse needs — thousands of per-batch
    small files otherwise dominate open/footer overhead at scan time).

    Sizing comes from the file listing, not a data scan; the rewrite is
    one round-robin repartition (even output sizes, no skew by
    content). Relation-preserving: same rows, same schema. Returns the
    output file count. Write lands in ``path_out`` — swap directories
    atomically in the metastore/manifest layer; this operator does not
    delete its input.
    """
    df = spark.read.parquet(path_in)
    jsc = spark.sparkContext._jsc.hadoopConfiguration()
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_in)
    fs = p.getFileSystem(jsc)
    total = fs.getContentSummary(p).getLength()
    n = max(1, -(-int(total) // int(target_bytes)))
    df.repartition(n).write.mode("overwrite").parquet(path_out)
    return n


def drop_staging(spark: SparkSession, database: str, table: str) -> None:
    """S-5: drop the staging temp table (reference:
    evm_load_template.py:418-419, dags/chains/loader.py:144-153). The
    in-process engine rarely materializes staging tables, but pipelines
    that checkpoint them clean up with this."""
    spark.sql(f"DROP TABLE IF EXISTS `{database}`.`{table}`")
