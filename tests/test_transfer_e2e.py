"""S-14 end-to-end: a decoded ABI table flows decode → warehouse →
client transfer, matching the reference's per-(client, table) copy
jobs (reference dags/chains/transfer.py:19-130, client config
transfer_client.py:26-35). VERDICT r3 task #6."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators import enrich
from datawaves_etl_airflow_spark.operators.decode import (
    TRANSFER_TOPIC0,
    decode_log_events,
    decoded_table_name,
)
from datawaves_etl_airflow_spark.operators.sinks import write_partitioned
from datawaves_etl_airflow_spark.operators.transfer import (
    TransferTarget,
    transfer_partition,
)
from datawaves_etl_airflow_spark.queries.domain import TRANSFER_EVENT

DS = "2023-11-14"
ADDR_A = "0x" + "aa" * 20
ADDR_B = "0x" + "bb" * 20


def _decoded_transfers(spark):
    """Enriched logs → decoded ERC-20 Transfer rows (the exact table
    shape a client receives)."""
    word = lambda a: "0x" + "0" * 24 + a[2:]  # noqa: E731
    rows = [
        (
            i,
            f"0xt{i}",
            0,
            "0xtoken",
            "0x" + format(10_000 + i, "064x"),
            ",".join([TRANSFER_TOPIC0, word(ADDR_A), word(ADDR_B)]),
            100,
        )
        for i in range(6)
    ]
    raw = spark.createDataFrame(
        rows,
        ["log_index", "transaction_hash", "transaction_index", "address",
         "data", "topics", "block_number"],
    ).withColumn("block_hash", F.lit("0xb"))
    blocks = spark.createDataFrame(
        [(100, "0xb100", 1_699_900_000)], ["number", "hash", "timestamp"]
    )
    return decode_log_events(enrich.enrich_logs(raw, blocks), TRANSFER_EVENT)


class TestDecodedTableTransfer:
    def test_decode_to_client_end_to_end(self, spark, tmp_path):
        decoded = _decoded_transfers(spark)
        table = decoded_table_name("erc20", "token", TRANSFER_EVENT)

        # producer side: daily partitioned warehouse write
        wh = str(tmp_path / "wh" / table)
        write_partitioned(decoded, "", DS, path=wh)

        # client side: per-table partition copy
        client = TransferTarget("path", str(tmp_path / "client"))
        n = transfer_partition(spark, wh, client, table, DS)
        assert n == 6

        got = spark.read.parquet(str(tmp_path / "client" / table))
        # value-exact: every decoded column survives both hops
        want = decoded.withColumn("dt", F.lit(DS).cast("date"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # decoded payload sanity on the far side
        row = got.orderBy("evt_index").collect()[0]
        assert row["from"] == ADDR_A and row["to"] == ADDR_B
        assert row["evt_block_number"] == 100

    def test_rerun_is_idempotent(self, spark, tmp_path):
        """The reference's transfer jobs are daily re-runnable; a
        second copy of the same ds must not duplicate client rows."""
        decoded = _decoded_transfers(spark)
        wh = str(tmp_path / "wh" / "t")
        write_partitioned(decoded, "", DS, path=wh)
        client = TransferTarget("path", str(tmp_path / "client"))
        transfer_partition(spark, wh, client, "t", DS)
        transfer_partition(spark, wh, client, "t", DS)
        assert spark.read.parquet(
            str(tmp_path / "client" / "t")
        ).count() == 6

    def test_other_days_survive_a_rerun(self, spark, tmp_path):
        """Dynamic overwrite scopes to the transferred ds only."""
        decoded = _decoded_transfers(spark)
        wh = str(tmp_path / "wh" / "t")
        other = "2023-11-15"
        write_partitioned(decoded, "", DS, path=wh)
        write_partitioned(decoded.limit(2), "", other, path=wh)
        client = TransferTarget("path", str(tmp_path / "client"))
        transfer_partition(spark, wh, client, "t", DS)
        transfer_partition(spark, wh, client, "t", other)
        transfer_partition(spark, wh, client, "t", DS)  # re-run day 1
        got = spark.read.parquet(str(tmp_path / "client" / "t"))
        assert got.filter(F.col("dt") == F.lit(other).cast("date")).count() == 2
        assert got.count() == 8

    def test_row_count_comes_from_the_write(self, spark, tmp_path,
                                            monkeypatch):
        """The copied row count is observed on the write: no count()
        job, from a path source (day partition, missing day) or a
        DataFrame source."""
        decoded = _decoded_transfers(spark)
        wh = str(tmp_path / "wh" / "t")
        write_partitioned(decoded, "", DS, path=wh)
        frame = spark.read.parquet(wh)

        def no_count(self):
            raise AssertionError("transfer_partition called count()")

        monkeypatch.setattr(type(frame), "count", no_count)
        client = TransferTarget("path", str(tmp_path / "client"))
        assert transfer_partition(spark, wh, client, "t", DS) == 6
        assert transfer_partition(spark, frame, client, "u", DS) == 6
        assert transfer_partition(spark, wh, client, "t", "2023-11-15") == 0

    def test_jdbc_target_builds_writer_contract(self, spark, monkeypatch):
        """No JDBC endpoint exists in the sandbox; pin the contract —
        url, dbtable, options, append mode — by intercepting the final
        save."""
        import datawaves_etl_airflow_spark.operators.transfer as tr

        captured = {}

        class FakeWriter:
            def __init__(self):
                self.opts = {}
                self.fmt = self.saved_mode = None

            def mode(self, m):
                self.saved_mode = m
                return self

            def format(self, f):
                self.fmt = f
                return self

            def option(self, k, v):
                self.opts[k] = v
                return self

            def save(self):
                captured.update(
                    mode=self.saved_mode, fmt=self.fmt, **self.opts
                )

        class FakeObservation:
            # a real Observation's get blocks until an action fills it;
            # the fake save is the action, so the fake reads 3 at once
            get = {"n": 3}

        class FakeDF:
            def __init__(self):
                self.write = FakeWriter()

            def filter(self, *a, **k):
                return self

            def observe(self, observation, *exprs):
                assert isinstance(observation, FakeObservation)
                return self

            def count(self):
                raise AssertionError("the row count comes from the write")

        fake = FakeDF()
        # transfer_partition type-dispatches on DataFrame; let the fake
        # pass the isinstance gate without touching py4j
        from pyspark.sql import DataFrame as RealDF

        monkeypatch.setattr(tr, "DataFrame", (RealDF, FakeDF))
        monkeypatch.setattr(tr, "Observation", FakeObservation)
        target = TransferTarget(
            "jdbc",
            "jdbc:databricks://host:443/default",
            (("user", "client"), ("password", "secret")),
        )
        n = tr.transfer_partition(spark, fake, target, "erc20_transfer", DS)
        assert n == 3
        assert captured["mode"] == "append"
        assert captured["fmt"] == "jdbc"
        assert captured["url"] == "jdbc:databricks://host:443/default"
        assert captured["dbtable"] == "erc20_transfer"
        assert captured["user"] == "client"
        assert captured["password"] == "secret"

    def test_jdbc_target_counts_from_the_write(self, spark, tmp_path,
                                               monkeypatch):
        """A real JDBC write (embedded in-memory Derby, the driver Spark
        ships for its metastore): the returned count is observed on the
        JDBC save itself, with count() forbidden."""
        import uuid

        derby = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
        try:
            spark._jvm.java.lang.Class.forName(derby)
        except Exception:
            pytest.skip("no Derby JDBC driver on the classpath")
        src = spark.createDataFrame(
            [(0, DS), (1, DS), (2, DS), (3, "2023-11-15"), (4, "2023-11-15")],
            "id long, dt string",
        ).withColumn("dt", F.col("dt").cast("date"))
        wh = str(tmp_path / "wh")
        src.write.partitionBy("dt").parquet(wh)
        url = f"jdbc:derby:memory:t{uuid.uuid4().hex};create=true"
        target = TransferTarget("jdbc", url, (("driver", derby),))

        def no_count(self):
            raise AssertionError("transfer_partition called count()")

        monkeypatch.setattr(type(src), "count", no_count)
        assert transfer_partition(spark, wh, target, "day_rows", DS) == 3
        got = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "day_rows").option("driver", derby)
            .load().collect()
        )
        assert sorted(r["id"] for r in got) == [0, 1, 2]
