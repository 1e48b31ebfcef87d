"""Physical-plan regression tests: pin the plan shapes SCALE.md
claims — broadcasts where promised, parquet pushdown/pruning, exchange
counts, and the shuffle-free map sections of the dedup pipeline.

These read the pre-execution plan (`executedPlan` before any stage
runs: AQE's initial plan, with EnsureRequirements' exchanges inserted)
so assertions are deterministic and don't require executing the query.
"""

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators import dedup
from datawaves_etl_airflow_spark.queries import generic, llm

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_of(df) -> str:
    # FileSourceScanExec details (PushedFilters / ReadSchema) only
    # render in the formatted explain
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


class TestRelationalPlans:
    def test_j1_broadcasts_never_sorts(self, spark):
        p = plan_of(generic.j1_order_revenue_3way(spark, SF_DIR))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_p4_pushdown_and_pruning(self, spark):
        q = generic.p4_date_range_scan(spark, SF_DIR)
        s = scan_of(q)
        assert "GreaterThanOrEqual(l_shipdate" in s
        assert "IsNotNull(l_shipdate)" in s
        # projection+filter columns only — the 12-col table never
        # reaches the scan output
        assert "l_extendedprice" not in s

    def test_rj1_no_nested_loop(self, spark):
        p = plan_of(generic.rj1_promo_range_join(spark, SF_DIR))
        assert "NestedLoop" not in p
        assert "CartesianProduct" not in p

    def test_asof_exactly_two_exchanges(self, spark):
        p = plan_of(generic.aj1_asof_clicks(spark, SF_DIR))
        assert p.count("Exchange") == 2
        assert "NestedLoop" not in p


class TestDedupPlans:
    def test_minhash_band_rows_is_shuffle_free(self, spark):
        sets = spark.createDataFrame(
            [(1, [11, 22, 33])], ["id", "shset"]
        )
        p = plan_of(dedup.minhash_band_rows(sets))
        assert "Exchange" not in p

    def test_exact_dedup_single_exchange(self, spark):
        docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        p = plan_of(dedup.exact_dedup_groups(docs))
        assert p.count("Exchange") == 1

    def test_contamination_broadcasts_benchmark(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        bench = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        p = plan_of(dedup.benchmark_contamination(corpus, bench))
        assert "BroadcastHashJoin" in p

    def test_tfidf_ndocs_broadcast(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        from datawaves_etl_airflow_spark.operators import text as text_ops

        p = plan_of(text_ops.tfidf_keywords(docs))
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


class TestSemanticDedupQuantizerReuse:
    def test_stored_quantizer_skips_training(
        self, spark, tmp_path, monkeypatch
    ):
        """semantic_dedup(centroids=read_ivf_centroids(...)) must reuse
        the persisted quantizer: it never trains, and the assignment
        kernel gets exactly the stored centroid table — the corpus is
        cell-assigned once against the index's own cell layout, never
        re-clustered. Recorded on the calls themselves: the kernel
        collects its centroid table up front, so neither the stored
        scan nor any Lloyd lineage shows in the final plan."""
        from datawaves_etl_airflow_spark.operators import similarity

        vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        idx = str(tmp_path / "ivf")
        similarity.write_ivf_index(vecs, idx, n_centroids=4, n_iters=1)
        cents = similarity.read_ivf_centroids(spark, idx)
        stored = sorted((r.centroid_id, r.centroid) for r in cents.collect())
        trained, assigned_against = [], []
        real_train = similarity.train_centroids
        real_assign = similarity._assign_cells

        def train(*args, **kwargs):
            trained.append(args)
            return real_train(*args, **kwargs)

        def assign(norm, vcol, centroids, coarse=None):
            assigned_against.append(
                sorted((r.centroid_id, r.centroid) for r in centroids.collect())
            )
            return real_assign(norm, vcol, centroids, coarse)

        monkeypatch.setattr(similarity, "train_centroids", train)
        monkeypatch.setattr(similarity, "_assign_cells", assign)
        similarity.semantic_dedup(
            vecs,
            n_centroids=4,
            threshold=0.999,
            keep="far_from_centroid",
            centroids=cents,
        )
        assert trained == []  # no retraining
        assert assigned_against == [stored]
        # control: the in-call path DOES train, so the recorder can't
        # silently go stale
        similarity.semantic_dedup(
            vecs,
            n_centroids=4,
            threshold=0.999,
            keep="far_from_centroid",
            n_iters=1,
        )
        assert len(trained) == 1


class TestAntiJoinPrefiltered:
    def test_matches_plain_anti_join(self, spark):
        from datawaves_etl_airflow_spark.operators.enrich import (
            anti_join_prefiltered,
        )

        staged = spark.createDataFrame(
            [(i, f"n{i}") for i in range(20)], ["c_custkey", "c_name"]
        )
        warehouse = spark.createDataFrame(
            [(i,) for i in range(0, 200, 2)], ["c_custkey"]
        )
        got = anti_join_prefiltered(staged, warehouse, "c_custkey")
        want = staged.join(warehouse, "c_custkey", "left_anti")
        assert got.count() == want.count() == 10  # odd keys 1..19
        assert got.subtract(want).count() == 0
        assert want.subtract(got).count() == 0

    def test_warehouse_side_never_shuffles(self, spark):
        p = plan_of(generic.j6b_anti_join_prefiltered(spark, SF_DIR))
        assert p.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in p
        # exactly TWO hash exchanges, neither on warehouse ROWS: the
        # staged-key distinct (small by construction) and the
        # relevant-key dedup that bounds the anti-join broadcast by
        # |staged| KEYS — its input is already the semi-join survivors
        # and it partial-aggregates map-side, so each task contributes
        # at most |staged| distinct keys to the shuffle. The full
        # warehouse reaches its semi-join via scan → BroadcastHashJoin
        # with no exchange.
        assert p.count("Exchange hashpartitioning") == 2

    def test_broadcast_bounded_with_duplicate_warehouse_keys(self, spark):
        # ADVICE r2: a warehouse with many rows per key must not
        # broadcast every matching row — result stays correct and the
        # deduped `relevant` is what gets broadcast
        from datawaves_etl_airflow_spark.operators.enrich import (
            anti_join_prefiltered,
        )

        staged = spark.createDataFrame(
            [(i, f"n{i}") for i in range(20)], ["c_custkey", "c_name"]
        )
        warehouse = spark.createDataFrame(
            [(i,) for i in range(0, 200, 2) for _ in range(50)],
            ["c_custkey"],
        )
        got = anti_join_prefiltered(staged, warehouse, "c_custkey")
        assert sorted(r["c_custkey"] for r in got.collect()) == list(
            range(1, 20, 2)
        )


class TestLayoutAndTextPlans:
    def test_bucket_pruned_scan_has_partition_filter(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.sinks import (
            write_key_bucketed,
        )

        df = spark.range(100).select(
            F.col("id").cast("string").alias("address"),
            F.col("id").alias("v"),
        )
        path = str(tmp_path / "wh")
        write_key_bucketed(df, path, "address", n_buckets=8)
        pruned = spark.read.parquet(path).filter(
            F.col("key_bucket").isin([1, 3])
        )
        s = scan_of(pruned)
        # the bucket predicate must land in PartitionFilters (directory
        # pruning), NOT PushedFilters (row-group filtering after listing)
        assert "PartitionFilters" in s
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", s)
        assert m and "key_bucket" in m.group(1)

    def test_quality_logit_is_scan_only(self, spark):
        p = plan_of(llm.llm_quality_logit(spark, SF_DIR))
        assert "Exchange" not in p  # pure per-row math, no shuffle
        assert "BatchEvalPython" not in p  # no row-at-a-time Python
        assert "ArrowEvalPython" not in p  # not even a pandas UDF

    def test_pack_sequences_single_exchange(self, spark):
        p = plan_of(llm.llm_pack_sequences(spark, SF_DIR))
        # one hashpartitioning exchange for the shard window, nothing else
        assert p.count("Exchange") == 1
        assert "BatchEvalPython" not in p


class TestAssignCellsPlan:
    def test_assignment_is_map_side_argmax(self, spark):
        """The shared quantizer-assignment kernel (_assign_cells, under
        semantic_dedup / write_ivf_index / ivf_topk / the Lloyd loop /
        cell_outliers) must be a zero-shuffle map-side argmax: the
        centroid set is collected up front and the per-row argmax runs
        in one Arrow pass, with the input's columns riding along so no
        caller joins back on the row id. The superseded
        crossJoin→n·k-rows→max_by form shuffled n·k rows through a hash
        aggregate and then forced a sort-merge join back to the corpus
        — the factor-100 scalecheck measured semantic_dedup at 156×
        the 1× time with it (the SemDeDup regime scales n_centroids
        WITH the corpus, so rows moved grew quadratically)."""
        from datawaves_etl_airflow_spark.operators import similarity

        vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        norm = vecs.select(
            F.col("vec_id").alias("_vid"),
            similarity.l2_normalize(F.col("embedding")).alias("_v"),
        )
        cents = vecs.limit(4).selectExpr(
            "CAST(vec_id AS INT) AS centroid_id", "embedding AS centroid"
        )
        assigned = similarity._assign_cells(norm, "_v", cents)
        # input columns survive — callers never join back on _vid
        assert set(assigned.columns) == {"_vid", "_v", "centroid_id", "_csim"}
        p = plan_of(assigned)
        # corpus side never shuffles and never joins
        assert "hashpartitioning(_vid" not in p
        assert "SortMergeJoin" not in p
        assert "MapInPandas" in p
        # the old plan's per-row aggregate is gone: no hash aggregate
        # keyed on the row id anywhere
        assert "max_by" not in p


class TestScd2Plan:
    def test_updates_broadcast_history_not_shuffled(self, spark):
        p = plan_of(generic.m2_scd2_history(spark, SF_DIR))
        # the updates batch joins by broadcast; neither the current
        # slice nor history ever hits a sort-merge join
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p


class TestRotationQueuePlanInvariants:
    """Queries parked in the NEXT round's rotation queue are not in
    the registered set, so the global plan sweep
    (test_plan_invariants) does not reach them — pin their invariants
    here so they enter the rotation with the same
    no-products/no-row-Python guarantee as every registered plan.
    (r12 queue — image_phash/passage_decontaminate/bigram_logprob/
    split_leakage — graduated into the r12 registration and is now
    covered by the global sweep.)"""

    FORBIDDEN = ("CartesianProduct", "BatchEvalPython")
    #: sanctioned BNLJ shapes, same rationale as the registered
    #: whitelist: 1-row broadcast aggregates only
    ALLOWS_BNLJ: set = {
        # bm25's broadcast 1-row (N, avgdl) corpus-stats aggregate,
        # inherited through the retrieval pass (llm_hard_negatives'
        # whitelisted shape)
        "llm_contrastive_pairs",
    }

    #: the queue is the REAL registry (queries.llm.ROTATION_QUEUE —
    #: the freshness gate exempts exactly it), so this pin can't drift
    @property
    def QUEUE(self):
        from datawaves_etl_airflow_spark.queries import llm as _llm

        return tuple(_llm.ROTATION_QUEUE)

    @staticmethod
    def _plan(spark, name):
        import __spark_entry__ as e

        df = e.queries_all()[name](spark, "/root/testdata/sf0.001")
        return df._jdf.queryExecution().executedPlan().toString()

    def test_queue_plans_clean(self, spark):
        for name in self.QUEUE:
            plan = self._plan(spark, name)
            for bad in self.FORBIDDEN:
                assert bad not in plan, f"{name}: {bad}"
            if name not in self.ALLOWS_BNLJ:
                assert "BroadcastNestedLoopJoin" not in plan, name
