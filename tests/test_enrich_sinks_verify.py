"""Enrich join goldens, sink idempotency (with a default-conf session!),
dedup append, and verify raise/pass paths."""

import os

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators import enrich, sinks
from datawaves_etl_airflow_spark.operators.verify import (
    VerificationError,
    verify_have_latest,
    verify_root_traces_match_transactions,
)


def _blocks(spark):
    rows = [
        (100, "0xb100", 1_700_000_000),
        (101, "0xb101", 1_700_000_600),
    ]
    return spark.createDataFrame(rows, ["number", "hash", "timestamp"])


class TestEnrichGoldens:
    def test_j1_three_way(self, spark):
        txs = spark.createDataFrame(
            [("0xt1", 100, 0), ("0xt2", 101, 0), ("0xt3", 999, 0)],
            ["hash", "block_number", "transaction_index"],
        ).select(
            "hash", "block_number", "transaction_index",
            F.lit(0).alias("nonce"), F.lit("0xa").alias("from_address"),
            F.lit("0xb").alias("to_address"),
            F.lit(None).cast("decimal(38,0)").alias("value"),
            F.lit(21000).alias("gas"), F.lit(1).alias("gas_price"),
            F.lit("0x").alias("input"),
            F.lit(1).alias("max_fee_per_gas"),
            F.lit(1).alias("max_priority_fee_per_gas"),
            F.lit(2).alias("transaction_type"),
        )
        receipts = spark.createDataFrame(
            [("0xt1", 1, 21000, 1), ("0xt2", 2, 22000, 0)],
            ["transaction_hash", "cumulative_gas_used", "gas_used", "status"],
        ).select(
            "transaction_hash", "cumulative_gas_used", "gas_used", "status",
            F.lit(None).cast("string").alias("contract_address"),
            F.lit(None).cast("string").alias("root"),
            F.lit(5).alias("effective_gas_price"),
        )
        out = enrich.enrich_transactions(txs, _blocks(spark), receipts)
        rows = {r["hash"]: r for r in out.collect()}
        # 0xt3's block is missing → dropped by the inner join
        assert set(rows) == {"0xt1", "0xt2"}
        assert rows["0xt1"]["block_hash"] == "0xb100"
        assert rows["0xt1"]["receipt_status"] == 1
        assert rows["0xt2"]["block_number"] == 101
        assert str(rows["0xt1"]["block_timestamp"]).startswith("2023-11-14")

    def test_j5_composite_key_recovers_hash(self, spark):
        geth = spark.createDataFrame(
            [(100, None, 0, "0xa", "0xb", "0x1234"),
             (101, None, 0, "0xc", "0xd", "0x")],
            "block_number long, transaction_hash string, "
            "transaction_index long, from_address string, "
            "to_address string, input string",
        ).select(
            "*",
            F.lit(None).cast("decimal(38,0)").alias("value"),
            F.lit("0x").alias("output"),
            F.lit("call").alias("trace_type"),
            F.lit("call").alias("call_type"),
            F.lit(None).cast("string").alias("reward_type"),
            F.lit(1).alias("gas"), F.lit(1).alias("gas_used"),
            F.lit(0).alias("subtraces"), F.lit("[]").alias("trace_address"),
            F.lit(None).cast("string").alias("error"),
            F.lit(1).alias("status"), F.lit("t").alias("trace_id"),
        )
        txs = spark.createDataFrame(
            [("0xhash100", 0, 100), ("0xhash101", 0, 101)],
            ["hash", "transaction_index", "block_number"],
        )
        out = enrich.enrich_geth_traces(geth, _blocks(spark), txs)
        got = {r["block_number"]: r["transaction_hash"] for r in out.collect()}
        assert got == {100: "0xhash100", 101: "0xhash101"}

    def test_j6_new_tokens(self, spark):
        staged = spark.createDataFrame(
            [("0xa", "A", "An", "18", "1", 1), ("0xb", "B", "Bn", "6", "2", 2)],
            ["address", "symbol", "name", "decimals", "total_supply",
             "block_number"],
        )
        existing = spark.createDataFrame(
            [("0xb", "B", "Bn", "6", "2", 1)], staged.columns
        )
        out = enrich.new_tokens(staged, existing)
        assert [r["address"] for r in out.collect()] == ["0xa"]


class TestSinks:
    def _df(self, spark, vals):
        return spark.createDataFrame(vals, ["k", "v"])

    def test_partitioned_overwrite_idempotent_path(self, spark, tmp_path):
        """Re-running one day must replace only that day — even when the
        session conf is NOT dynamic (the per-write option must win)."""
        path = str(tmp_path / "t")
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "static")  # hostile session conf
        try:
            sinks.write_partitioned(
                self._df(spark, [(1, "d1")]), "", "2024-01-01", path=path
            )
            sinks.write_partitioned(
                self._df(spark, [(2, "d2")]), "", "2024-01-02", path=path
            )
            # re-run day 2 with changed data
            sinks.write_partitioned(
                self._df(spark, [(3, "d2b")]), "", "2024-01-02", path=path
            )
        finally:
            spark.conf.set(key, prev)
        got = {
            (r["k"], str(r["dt"])) for r in spark.read.parquet(path).collect()
        }
        # day 1 survived; day 2 fully replaced
        assert got == {(1, "2024-01-01"), (3, "2024-01-02")}

    def test_partitioned_overwrite_idempotent_table(self, spark):
        df1 = self._df(spark, [(1, "x")])
        sinks.write_partitioned(df1, "default.sink_t", "2024-01-01")
        sinks.write_partitioned(df1, "default.sink_t", "2024-01-02")
        # double-write the same day == single write (S-3 contract),
        # exercising the insertInto column-order alignment
        sinks.write_partitioned(df1, "default.sink_t", "2024-01-02")
        out = spark.table("default.sink_t")
        assert out.count() == 2
        assert out.filter(F.col("dt") == "2024-01-02").count() == 1

    def test_partitioned_overwrite_extra_partition_cols(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 3), (2, "b", 7)], ["k", "v", "bucket"]
        )
        sinks.write_partitioned(
            df, "default.sink_b", "2024-01-01", extra_partition_cols=["bucket"]
        )
        # rerun must not raise CANNOT_SAFELY_CAST (column reorder) and
        # must stay at 2 rows
        sinks.write_partitioned(
            df, "default.sink_b", "2024-01-01", extra_partition_cols=["bucket"]
        )
        assert spark.table("default.sink_b").count() == 2

    def test_read_day_is_the_day_with_the_written_schema(self, spark, tmp_path):
        """read_day over a two-day table: the day's rows and files
        only, and the known schema is what inference reads back."""
        path = str(tmp_path / "t")
        # an int bucket, as the hash buckets are (inference guesses a
        # partition column's type from its directory names); the old
        # dt column is replaced by the written day
        df = spark.createDataFrame(
            [(1, "a", 3, 0), (2, None, 7, 1)], ["k", "v", "bucket", "dt"]
        ).withColumn("bucket", F.col("bucket").cast("int"))
        for ds in ("2024-01-01", "2024-01-02"):
            sinks.write_partitioned(df, "", ds, ["bucket"], path=path)
        schema = sinks.partitioned_schema(df, ["bucket"])
        assert schema == spark.read.parquet(path).schema
        day = sinks.read_day(spark, path, "2024-01-02", schema)
        assert day.schema == schema
        assert {(r["k"], str(r["dt"]), r["bucket"]) for r in day.collect()} == {
            (1, "2024-01-02", 3), (2, "2024-01-02", 7)
        }
        assert all("/dt=2024-01-02/" in f for f in day.inputFiles())
        assert sinks.read_day(spark, path, "2024-01-03").collect() == []

    def test_append_dedup_path(self, spark, tmp_path):
        path = str(tmp_path / "tokens")
        a = spark.createDataFrame([("0xa", "A")], ["address", "symbol"])
        b = spark.createDataFrame(
            [("0xa", "A"), ("0xb", "B")], ["address", "symbol"]
        )
        sinks.append_dedup(a, "", path=path)
        sinks.append_dedup(b, "", path=path)
        got = sorted(
            r["address"] for r in spark.read.parquet(path).collect()
        )
        assert got == ["0xa", "0xb"]

    def test_append_dedup_corrupt_read_propagates(self, spark, tmp_path):
        """A broken existing table must NOT silently append everything."""
        path = tmp_path / "corrupt"
        path.mkdir()
        (path / "part-000.parquet").write_bytes(b"not a parquet file")
        df = spark.createDataFrame([("0xa", "A")], ["address", "symbol"])
        with pytest.raises(Exception):
            sinks.append_dedup(df, "", path=str(path))


class TestBucketPrunedAntiJoin:
    def _frames(self, spark):
        warehouse = spark.createDataFrame(
            [(f"addr{i}", float(i)) for i in range(200)], ["address", "v"]
        )
        staged = spark.createDataFrame(
            [("addr3", 1.0), ("addr7", 2.0), ("new1", 3.0), ("new2", 4.0)],
            ["address", "v"],
        )
        return warehouse, staged

    def test_equals_plain_anti_join(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.enrich import (
            anti_join_bucket_pruned,
        )
        from datawaves_etl_airflow_spark.operators.sinks import (
            write_key_bucketed,
        )

        warehouse, staged = self._frames(spark)
        path = str(tmp_path / "wh")
        write_key_bucketed(warehouse, path, "address", n_buckets=16)
        got = sorted(
            r["address"]
            for r in anti_join_bucket_pruned(
                staged, path, "address", n_buckets=16
            ).collect()
        )
        want = sorted(
            r["address"]
            for r in staged.join(
                warehouse.select("address"), "address", "left_anti"
            ).collect()
        )
        assert got == want == ["new1", "new2"]

    def test_scan_is_partition_pruned(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators.sinks import (
            write_key_bucketed,
        )

        warehouse, _ = self._frames(spark)
        path = str(tmp_path / "wh")
        n = 16
        write_key_bucketed(warehouse, path, "address", n_buckets=n)
        # a one-key probe must read exactly one key_bucket= directory
        b = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit("addr3")), F.lit(n)).alias("b")
        ).collect()[0]["b"]
        pruned = spark.read.parquet(path).filter(F.col("key_bucket") == b)
        # input_file_name() reports the files the executed scan actually
        # touched (inputFiles() ignores filters) — the partition filter
        # must confine the read to the one matching bucket directory
        files = [
            r["f"]
            for r in pruned.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        all_files = spark.read.parquet(path).inputFiles()
        assert files and len(files) < len(all_files)
        assert all(f"key_bucket={b}/" in f for f in files)

    def test_layout_coverage_all_rows_once(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.sinks import (
            write_key_bucketed,
        )

        warehouse, _ = self._frames(spark)
        path = str(tmp_path / "wh")
        write_key_bucketed(warehouse, path, "address", n_buckets=16)
        back = spark.read.parquet(path)
        assert back.count() == 200
        assert back.select("address").distinct().count() == 200


class TestRangeClusteredLayout:
    def test_window_scan_skips_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators.sinks import (
            write_range_clustered,
        )

        df = spark.range(10_000).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        path = str(tmp_path / "clustered")
        write_range_clustered(df, path, "id", n_partitions=8)
        back = spark.read.parquet(path)
        assert len(back.inputFiles()) > 1
        # a narrow window must touch only the file(s) whose min/max
        # range overlaps it — every other file is stat-skipped and
        # never yields rows
        narrow = back.filter(F.col("id").between(100, 200))
        touched = [
            r["f"]
            for r in narrow.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        assert touched and len(touched) < len(back.inputFiles())
        assert narrow.count() == 101

    def test_layout_preserves_relation(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators.sinks import (
            write_range_clustered,
        )

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        )
        path = str(tmp_path / "clustered")
        write_range_clustered(df, path, "id", n_partitions=4)
        back = spark.read.parquet(path)
        assert back.count() == 1000
        assert back.select(F.sum("id")).collect()[0][0] == 499500


class TestCompaction:
    def test_compacts_small_files_preserving_relation(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators.sinks import (
            compact_files,
        )

        src = str(tmp_path / "many")
        dst = str(tmp_path / "few")
        df = spark.range(50_000).select(
            F.col("id"), (F.col("id") % 13).alias("g")
        )
        df.repartition(64).write.parquet(src)
        assert len(spark.read.parquet(src).inputFiles()) == 64
        n = compact_files(spark, src, dst, target_bytes=10**9)
        assert n == 1
        back = spark.read.parquet(dst)
        assert len(back.inputFiles()) == 1
        assert back.count() == 50_000
        assert back.select(F.sum("id")).collect()[0][0] == \
            df.select(F.sum("id")).collect()[0][0]

    def test_target_bytes_splits_output(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.sinks import (
            compact_files,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        spark.range(100_000).write.parquet(src)
        # tiny target forces multiple evenly-sized output files
        n = compact_files(spark, src, dst, target_bytes=64 * 1024)
        assert n > 1
        assert len(spark.read.parquet(dst).inputFiles()) == n


class TestVerify:
    def _dated(self, spark, n, ds):
        return spark.range(n).select(
            F.col("id"), F.lit(ds).cast("date").alias("dt")
        )

    def test_have_latest_pass_and_raise(self, spark):
        assert verify_have_latest(
            self._dated(spark, 3, "2024-01-01"), "2024-01-01"
        ) == 3
        with pytest.raises(VerificationError):
            verify_have_latest(
                self._dated(spark, 3, "2024-01-01"), "2024-01-02"
            )

    def test_root_traces_match(self, spark):
        traces = spark.createDataFrame(
            [("[]", "0xt1"), ("[]", "0xt2"), ("[0]", "0xt1"), ("[]", None)],
            ["trace_address", "transaction_hash"],
        ).withColumn("dt", F.lit("2024-01-01").cast("date"))
        txs = self._dated(spark, 2, "2024-01-01")
        assert (
            verify_root_traces_match_transactions(traces, txs, "2024-01-01")
            == 2
        )
        txs3 = self._dated(spark, 3, "2024-01-01")
        with pytest.raises(VerificationError):
            verify_root_traces_match_transactions(traces, txs3, "2024-01-01")

    def test_each_check_is_one_collect(self, spark, monkeypatch):
        traces = spark.createDataFrame(
            [("[]", "0xt1"), ("[]", "0xt2")],
            ["trace_address", "transaction_hash"],
        ).withColumn("dt", F.lit("2024-01-01").cast("date"))
        txs = self._dated(spark, 2, "2024-01-01")
        cls = type(txs)
        calls = []
        collect = cls.collect

        def counting(self):
            calls.append(1)
            return collect(self)

        monkeypatch.setattr(cls, "collect", counting)
        assert verify_have_latest(txs, "2024-01-01") == 2
        assert len(calls) == 1
        assert verify_root_traces_match_transactions(
            traces, txs, "2024-01-01"
        ) == 2
        assert len(calls) == 2


class TestPricesOps:
    def test_p7_active_token_filter(self, spark):
        from datawaves_etl_airflow_spark.operators.prices import (
            filter_active_tokens,
        )

        tokens = spark.createDataFrame(
            [("0xa", "2023-12-31"), ("0xb", None), ("0xc", "2024-06-01")],
            "address string, end_date string",
        )
        out = filter_active_tokens(tokens, "2024-01-15")
        assert sorted(r["address"] for r in out.collect()) == ["0xb", "0xc"]

    def test_s12_interval_fill(self, spark):
        from datawaves_etl_airflow_spark.operators.prices import (
            fill_price_minutes,
        )
        from pyspark.sql import functions as F

        raw = spark.createDataFrame(
            [("2024-01-15 00:00:00", 1.5)], "minute string, price double"
        ).withColumn("minute", F.col("minute").cast("timestamp"))
        out = fill_price_minutes(raw).collect()
        assert len(out) == 5
        assert {str(r["minute"]) for r in out} == {
            f"2024-01-15 00:0{i}:00" for i in range(5)
        }
        assert all(r["price"] == 1.5 for r in out)
