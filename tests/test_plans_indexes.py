"""Plan pins for the persisted-index operators (r4): no products in
the incremental dedup probe, partition pruning in the IVF probe scan,
and the single-exchange shard shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators.dedup import (
    dedup_against_index,
    write_minhash_index,
)
from datawaves_etl_airflow_spark.operators.sampling import shuffle_shards
from datawaves_etl_airflow_spark.operators.similarity import write_ivf_index


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"some text body number {i} with shared tokens") for i in ids],
        "doc_id long, text string",
    )


class TestIndexPlans:
    def test_dedup_probe_has_no_product(self, spark, tmp_path):
        p = str(tmp_path / "idx")
        write_minhash_index(_docs(spark, range(20)), p)
        probe = dedup_against_index(_docs(spark, range(100, 110)), p, 0.5)
        plan = plan_of(probe)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivf_probe_scan_is_partition_pruned(self, spark, tmp_path):
        import random

        rng = random.Random(3)
        vecs = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )
        p = str(tmp_path / "ivf")
        write_ivf_index(vecs, p, n_centroids=8, n_iters=1)
        from datawaves_etl_airflow_spark.operators.similarity import (
            _resolve_ivf_index,
        )

        root = _resolve_ivf_index(spark, p)[1]
        # the probe's cell read: an isin over the partition column must
        # reach the scan as a partition filter, with zero data filters
        cells = spark.read.parquet(root + "/cells").filter(
            F.col("centroid_id").isin([1, 2])
        )
        s = formatted(cells)
        assert "PartitionFilters" in s
        assert "centroid_id IN (1,2)" in s.replace(" ", "").replace(
            "IN(", "IN ("
        ) or "centroid_id" in s.split("PartitionFilters")[1].split("]")[0]

    def test_shuffle_shards_single_exchange(self, spark):
        out = shuffle_shards(_docs(spark, range(50)), n_shards=8, seed=1)
        plan = plan_of(out)
        assert plan.count("Exchange") == 1
        assert "Sort" in plan  # per-shard hash order is a real sort


class TestDecodeLayoutPruning:
    def test_selector_hash_partitioned_decode_scan_is_pruned(
        self, spark, tmp_path
    ):
        """D-1 over the selector_hash-partitioned warehouse layout: the
        decode's bucket filter must reach the scan as a PartitionFilter
        (execution-true: the files read all belong to the selector's
        bucket dir) — the SURVEY.md §4 pruning claim the 10× decode
        rows in SCALE.md measure."""
        from datawaves_etl_airflow_spark.functions.evm import (
            hash_bucket,
            unhex_0x,
        )
        from datawaves_etl_airflow_spark.operators.decode import (
            decode_log_events,
        )
        from datawaves_etl_airflow_spark.queries.domain import (
            TRANSFER_EVENT,
        )

        topic0 = TRANSFER_EVENT.event_topic0()
        word = lambda c: F.lpad(  # noqa: E731
            F.conv(c.cast("string"), 10, 16), 64, "0"
        )
        sel = F.when(
            (F.col("id") % 4) == 0, F.lit(topic0)
        ).otherwise(F.concat(F.lit("0x"), word(F.col("id") % 8 + 100)))
        logs = spark.range(400).select(
            F.col("id").alias("log_index"),
            F.concat(F.lit("0xtx"), F.col("id").cast("string")).alias(
                "transaction_hash"
            ),
            F.lit("0x" + "ab" * 20).alias("address"),
            F.timestamp_seconds(F.col("id")).alias("block_timestamp"),
            F.col("id").alias("block_number"),
            F.array(
                sel,
                F.concat(F.lit("0x"), word(F.col("id") % 97)),
                F.concat(F.lit("0x"), word(F.col("id") % 31)),
            ).alias("topics_arr"),
            unhex_0x(F.concat(F.lit("0x"), word(F.col("id")))).alias(
                "unhex_data"
            ),
            sel.alias("selector"),
            hash_bucket(sel).alias("selector_hash"),
        )
        p = str(tmp_path / "decoded_layout")
        logs.write.partitionBy("selector_hash").parquet(p)

        decoded = decode_log_events(spark.read.parquet(p), TRANSFER_EVENT)
        s = formatted(decoded)
        assert "PartitionFilters" in s
        pf = s.split("PartitionFilters")[1].split("]")[0]
        assert "selector_hash" in pf
        # execution-true: every file actually read is in ONE bucket dir
        want_bucket = spark.range(1).select(
            hash_bucket(F.lit(topic0)).alias("b")
        ).first()["b"]
        src = spark.read.parquet(p).filter(
            (F.col("selector") == topic0)
            & (F.col("selector_hash") == hash_bucket(F.lit(topic0)))
        )
        files = {
            r["f"]
            for r in src.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert files
        assert all(f"selector_hash={want_bucket}/" in f for f in files)
        assert decoded.count() == 100


class TestStreamSemanticScaledK:
    def test_batch_assignment_never_flat_scans_fine_table(
        self, spark, tmp_path, monkeypatch
    ):
        """Corpus-scaled k: against a 2-level index with k = 400 fine
        cells, the streaming batch's assignment must pay the
        hierarchical O(√k + √k) dots/row. Every call of the assignment
        kernel that gets the 400-row fine table must also get the
        coarse table (the two-level argmax), and each row must land in
        a fine cell of its coarse winner even where the flat argmax
        over all 400 fine cells picks another cell. A stream that
        flat-assigned would reintroduce the O(n·k) term the 2-level
        build exists to kill; recording the actual arguments and
        outputs is execution-true where a plan-string grep could
        silently match nothing."""
        import random

        import numpy as np

        from datawaves_etl_airflow_spark.operators import similarity as sim
        from datawaves_etl_airflow_spark.streaming import ingest as ing

        rng = random.Random(5)
        dim, n_coarse, n_fine = 8, 20, 20
        vecs = spark.createDataFrame(
            [
                (i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(600)
            ],
            "vec_id long, embedding array<double>",
        )
        idx = str(tmp_path / "ivf2l")
        acc = str(tmp_path / "acc")
        sim.write_ivf_index(
            vecs, idx, n_centroids=n_coarse, n_iters=1, n_fine=n_fine
        )
        calls = []
        real_assign = sim._assign_cells

        def recording(norm, vcol, centroids, coarse=None):
            out = real_assign(norm, vcol, centroids, coarse)
            calls.append((centroids.count(), coarse, vcol, out))
            return out

        monkeypatch.setattr(sim, "_assign_cells", recording)
        # patch BEFORE make: the ingest binds its imports at make time
        fn = ing.make_semantic_ingest(idx, acc, threshold=0.95)
        batch = spark.createDataFrame(
            [
                (10_000 + i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(10)
            ],
            "vec_id long, embedding array<double>",
        )
        fn(batch, 0)
        assert calls, "assignment never ran — wiring changed?"
        assert all(n <= n_coarse or co is not None for n, co, _, _ in calls)

        coarse_t, fine_t = sim.read_ivf_quantizer(spark, idx)
        co = sorted((r.centroid_id, r.centroid) for r in coarse_t.collect())
        fi = sorted(
            (r.centroid_id, r.coarse_id, r.centroid) for r in fine_t.collect()
        )
        assert len(fi) > n_coarse

        def argmax(v, table):
            v = np.asarray(v)
            return max(
                table,
                key=lambda t: (
                    v @ np.asarray(t[-1])
                    / (np.linalg.norm(v) * np.linalg.norm(t[-1])),
                    -t[0],
                ),
            )[0]

        differs = 0
        for _, coarse, vcol, out in calls:
            if coarse is None:
                continue
            for r in out.collect():
                c1 = argmax(r[vcol], co)
                in_cell = [t for t in fi if t[1] == c1]
                assert r.centroid_id == argmax(r[vcol], in_cell)
                differs += r.centroid_id != argmax(r[vcol], fi)
        # non-vacuous: some row's flat argmax leaves its coarse cell
        assert differs > 0
        # and the batch actually ingested
        import os as _os

        assert spark.read.parquet(
            _os.path.join(acc, "docs")
        ).count() > 0


class TestDecontaminateIndexPlan:
    """semantic_decontaminate_index plan pins (r10): the probed-cell
    scan carries a static partition filter (the bounded-driver-read
    pruning contract), the corpus side shuffles exactly once (the
    per-corpus-row argmax groupBy), and nothing degenerates into a
    product over benchmark × full corpus."""

    def test_pruned_scan_one_corpus_exchange_no_product(
        self, spark, tmp_path
    ):
        import random

        from datawaves_etl_airflow_spark.operators.similarity import (
            semantic_decontaminate_index,
        )

        rng = random.Random(3)
        vecs = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )
        p = str(tmp_path / "ivf_decon")
        write_ivf_index(vecs, p, n_centroids=8, n_iters=1)
        bench = vecs.limit(5).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        out = semantic_decontaminate_index(bench, p, threshold=0.9,
                                           nprobe=2)
        plan = plan_of(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the probed-cell read reaches the scan as a PARTITION filter
        s = formatted(out)
        pf = s.split("PartitionFilters")
        assert len(pf) > 1 and "centroid_id" in pf[1].split("]")[0]
        # one vec_id hash exchange: the final per-corpus-row argmax
        import re

        assert len(
            re.findall(r"Exchange hashpartitioning\(vec_id", plan)
        ) == 1
