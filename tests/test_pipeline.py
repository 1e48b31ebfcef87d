"""End-to-end golden test: export → load → enrich → verify → parse in
one session over the synthetic fixture day, plus exporter failover,
pipeline topology, and the transfer sink."""

import os

import pytest

from datawaves_etl_airflow_spark.operators.transfer import (
    TransferTarget,
    transfer_partition,
)
from datawaves_etl_airflow_spark.pipeline import Pipeline, run_evm_day
from datawaves_etl_airflow_spark.queries.domain import TRANSFER_EVENT
from datawaves_etl_airflow_spark.sources.exporters import (
    ExportError,
    SyntheticChainSource,
    extract_field,
    run_export_day,
    with_provider_failover,
)
from datawaves_etl_airflow_spark.testing import fixtures as fx


class TestExporters:
    def test_run_export_day_layout(self, tmp_path):
        src = SyntheticChainSource()
        out = run_export_day([src], str(tmp_path), "ethereum", fx.DS)
        assert set(out) == {
            "blocks", "transactions", "receipts", "logs", "traces"
        }
        for t, path in out.items():
            assert path.endswith(f"block_date={fx.DS}/{t}.json")
            assert os.path.getsize(path) > 0

    def test_provider_failover(self, tmp_path):
        """S-13: first provider down → second one serves the export."""
        bad, good = SyntheticChainSource(fail=True), SyntheticChainSource()
        got = with_provider_failover(
            [bad, good], lambda p: p.get_block_range(fx.DS)
        )
        assert got == (1000, 1019)
        with pytest.raises(ExportError):
            with_provider_failover(
                [bad, SyntheticChainSource(fail=True)],
                lambda p: p.get_block_range(fx.DS),
            )

    def test_extract_field(self):
        assert extract_field([{"hash": "a"}, {"hash": "b"}], "hash") == ["a", "b"]


class TestPipelineGraph:
    def test_topological_order_and_ctx(self):
        calls = []
        p = (
            Pipeline()
            .add("c", lambda ctx: calls.append("c") or ctx["a"] + ctx["b"],
                 deps=["a", "b"])
            .add("a", lambda ctx: calls.append("a") or 1)
            .add("b", lambda ctx: calls.append("b") or 2, deps=["a"])
        )
        ctx = p.run()
        assert calls == ["a", "b", "c"]
        assert ctx["c"] == 3

    def test_cycle_detection(self):
        p = (
            Pipeline()
            .add("x", lambda c: None, deps=["y"])
            .add("y", lambda c: None, deps=["x"])
        )
        with pytest.raises(ValueError, match="cycle"):
            p.run()

    def test_unknown_dependency(self):
        p = Pipeline().add("x", lambda c: None, deps=["ghost"])
        with pytest.raises(Exception):
            p.run()


class TestEndToEndDay:
    """One synthetic day through the whole engine (VERDICT next-round #8)."""

    @pytest.fixture(scope="class")
    def ctx(self, spark, tmp_path_factory):
        base = fx.ensure_fixtures()
        wh = str(tmp_path_factory.mktemp("wh"))
        return run_evm_day(
            spark, base, wh, fx.DS, decode_events=[TRANSFER_EVENT]
        ), wh

    def test_warehouse_tables_written(self, ctx, spark):
        result, wh = ctx
        assert result["enrich_blocks"].count() == 20
        assert result["enrich_transactions"].count() == 200
        assert result["enrich_logs"].count() == 300
        assert result["enrich_traces"].count() == 300
        assert result["enrich_contracts"].count() == 30
        assert result["enrich_token_transfers"].count() == 100
        assert result["enrich_tokens"].count() == 15

    def test_verify_checks_green(self, ctx):
        result, _ = ctx
        v = result["verify"]
        assert v["blocks"] == 20
        assert v["root_traces"] == 200

    def test_decoded_table(self, ctx):
        result, _ = ctx
        decoded = result["parse_evt_Transfer"]
        assert decoded.count() == 100
        row = decoded.filter(decoded["value"].isNotNull()).first()
        assert row["from"].startswith("0x") and len(row["from"]) == 42

    def test_extraction_matches_decode(self, ctx):
        result, _ = ctx
        assert result["extract_token_transfers"].count() == 100

    def test_hash_bucket_layout_on_disk(self, ctx):
        """logs land partitioned dt/address_hash/selector_hash so decode
        scans prune (SURVEY.md §4)."""
        _, wh = ctx
        logs_root = os.path.join(wh, "ethereum", "logs")
        dt_dirs = [d for d in os.listdir(logs_root) if d.startswith("dt=")]
        assert dt_dirs
        buckets = os.listdir(os.path.join(logs_root, dt_dirs[0]))
        assert any(b.startswith("address_hash=") for b in buckets)

    def test_clean_phase_removes_staging(self, spark, tmp_path):
        """S-5: with clean=True every staging export file is deleted
        after its last consumer ran — and results are unaffected."""
        import shutil

        base = fx.ensure_fixtures()
        work = str(tmp_path / "exports")
        shutil.copytree(os.path.join(base, "export"),
                        os.path.join(work, "export"))
        wh = str(tmp_path / "wh")
        result = run_evm_day(
            spark, work, wh, fx.DS,
            decode_events=[TRANSFER_EVENT], clean=True,
        )
        assert result["enrich_blocks"].count() == 20
        assert result["extract_token_transfers"].count() == 100
        for t in ["blocks", "logs", "traces", "tokens"]:
            assert not os.path.exists(
                os.path.join(work, "export", "ethereum", t,
                             f"block_date={fx.DS}", f"{t}.json")
            )

    def test_idempotent_rerun(self, ctx, spark):
        """Re-running the day replaces partitions, never duplicates."""
        result, wh = ctx
        base = fx.ensure_fixtures()
        again = run_evm_day(
            spark, base, wh, fx.DS, decode_events=[TRANSFER_EVENT]
        )
        assert again["enrich_blocks"].count() == 20
        assert again["enrich_transactions"].count() == 200
        # tokens append-dedup: second run adds nothing
        assert again["enrich_tokens"].count() == 15


class TestDayScope:
    """One day run over a warehouse that already holds earlier days
    (copies of the fixture day's partitions under other dt values):
    the day's read-backs, its verify action, what it leaves cached,
    and the job group its pool tasks run under."""

    EARLIER = ("2024-01-13", "2024-01-14")
    GROUP = "evm-day-scope"
    #: jobs of this re-run fixture day with one decoded event (CHANGES.md)
    MAX_JOBS = 24

    @pytest.fixture(scope="class")
    def day(self, spark, tmp_path_factory):
        import shutil

        base = fx.ensure_fixtures()
        wh = str(tmp_path_factory.mktemp("wh_history"))
        run_evm_day(spark, base, wh, fx.DS, phases={"load", "enrich"})
        root = os.path.join(wh, "ethereum")
        for table in os.listdir(root):
            part = os.path.join(root, table, f"dt={fx.DS}")
            for ds in self.EARLIER if os.path.isdir(part) else ():
                shutil.copytree(part, os.path.join(root, table, f"dt={ds}"))
        spark.catalog.clearCache()
        sc = spark.sparkContext
        sc.setJobGroup(self.GROUP, "one evm day")
        try:
            ctx = run_evm_day(
                spark, base, wh, fx.DS, decode_events=[TRANSFER_EVENT]
            )
            cache = spark._jsparkSession.sharedState().cacheManager()
            left_cached = not cache.isEmpty()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return ctx, wh, left_cached

    def test_parse_decodes_only_the_day(self, day, spark):
        from pyspark.sql import functions as F

        _, wh, _ = day
        evt = spark.read.parquet(os.path.join(wh, "ethereum", "evt_Transfer"))
        # 100 = the single-day count (TestEndToEndDay.test_decoded_table)
        assert evt.filter(F.col("dt") == F.lit(fx.DS).cast("date")).count() == 100

    def test_read_backs_touch_only_the_day(self, day):
        ctx, _, _ = day
        for task in ("enrich_logs", "parse_evt_Transfer"):
            files = ctx[task].inputFiles()
            assert files
            assert all(f"/dt={fx.DS}/" in f for f in files), task

    def test_verify_is_one_action(self, day, spark, monkeypatch):
        _, wh, _ = day
        base = fx.ensure_fixtures()
        cls = type(spark.range(1))
        calls = []
        collect = cls.collect

        def counting(self):
            calls.append(1)
            return collect(self)

        monkeypatch.setattr(cls, "collect", counting)
        got = run_evm_day(spark, base, wh, fx.DS, phases={"verify"})
        assert got["verify"]["root_traces"] == 200
        assert len(calls) == 1

    def test_verify_phase_without_the_day_raises(self, day, spark):
        from datawaves_etl_airflow_spark.operators.verify import (
            VerificationError,
        )

        _, wh, _ = day
        with pytest.raises(VerificationError, match="no latest blocks"):
            run_evm_day(spark, fx.ensure_fixtures(), wh, "2024-01-10",
                        phases={"verify"})

    def test_leaves_nothing_cached(self, day):
        _, _, left_cached = day
        assert not left_cached

    def test_pool_jobs_carry_the_callers_group(self, day, spark):
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(self.GROUP)
        assert 0 < len(ids) <= self.MAX_JOBS


class TestPolygonChain:
    def test_geth_trace_pipeline(self, spark, tmp_path):
        """polygon config: traces come from geth exports without tx
        hashes; the pipeline recovers them via the J-5 composite join
        and all verify checks stay green."""
        import shutil

        base = fx.ensure_fixtures()
        work = str(tmp_path / "poly")
        shutil.copytree(
            os.path.join(base, "export", "ethereum"),
            os.path.join(work, "export", "polygon"),
        )
        wh = str(tmp_path / "wh")
        result = run_evm_day(spark, work, wh, fx.DS, chain="polygon")
        traces = result["enrich_traces"]
        assert traces.count() == 300
        # every row recovered a transaction hash from the composite key
        assert traces.filter(traces["transaction_hash"].isNull()).count() == 0
        assert result["verify"]["root_traces"] == 200


class TestTransfer:
    def test_transfer_partition_path(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df = spark.range(10).withColumn(
            "dt", F.lit("2024-01-15").cast("date")
        )
        src = str(tmp_path / "src")
        df.write.partitionBy("dt").parquet(src)
        target = TransferTarget("path", str(tmp_path / "client"))
        n = transfer_partition(spark, src, target, "t1", "2024-01-15")
        assert n == 10
        got = spark.read.parquet(str(tmp_path / "client" / "t1"))
        assert got.count() == 10

    def test_transfer_unknown_kind(self, spark, tmp_path):
        df = None
        with pytest.raises(ValueError):
            transfer_partition(
                spark,
                spark.range(1).selectExpr("id", "DATE '2024-01-15' AS dt"),
                TransferTarget("ftp", "x"),
                "t",
                "2024-01-15",
            )
