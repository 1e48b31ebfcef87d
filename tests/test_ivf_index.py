"""Persisted IVF index: identical results to the in-session ivf_topk
(same deterministic quantizer), with the probe physically reading only
the probed centroid_id partitions."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators.similarity import (
    _resolve_ivf_index,
    ivf_search_index,
    ivf_topk,
    read_ivf_index_meta,
    vacuum_ivf_index,
    write_ivf_index,
)

DIM = 16


def _data_root(spark, index_path):
    """The manifest-resolved versions/ dir holding cells/centroids."""
    return _resolve_ivf_index(spark, index_path)[1]


def _vectors(spark, n=300, seed=11):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _queries(spark, n=6, seed=23):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "query_id long, query_vec array<double>"
    )


@pytest.fixture()
def index_path(spark, tmp_path):
    p = str(tmp_path / "ivf")
    write_ivf_index(_vectors(spark), p, n_centroids=8, n_iters=2)
    return p


class TestIvfIndex:
    def test_matches_in_session_ivf(self, spark, index_path):
        q = _queries(spark)
        got = ivf_search_index(q, index_path, nprobe=2, k=5)
        want = ivf_topk(
            _vectors(spark), q, n_centroids=8, nprobe=2, k=5, n_iters=2
        )
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_probe_reads_only_probed_partitions(self, spark, index_path):
        """Execution-true pruning proof: the files actually read all
        belong to the probed centroid dirs, a strict subset of cells."""
        q = _queries(spark, n=2)
        meta = read_ivf_index_meta(spark, index_path)
        root = _data_root(spark, index_path)
        centroids = spark.read.parquet(root + "/centroids")
        from datawaves_etl_airflow_spark.operators.similarity import (
            dot,
            l2_normalize,
        )
        from pyspark.sql.window import Window

        qn = q.withColumn("_qv", l2_normalize(F.col("query_vec")))
        scored = qn.crossJoin(F.broadcast(centroids)).withColumn(
            "_sim", dot(F.col("_qv"), F.col("centroid"))
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("_sim").desc(), F.col("centroid_id").asc()
        )
        probe_ids = {
            r["centroid_id"]
            for r in scored.withColumn(
                "_pr", F.row_number().over(wq)
            )
            .filter(F.col("_pr") <= 2)
            .select("centroid_id")
            .distinct()
            .collect()
        }
        all_dirs = {
            int(os.path.basename(d).split("=")[1])
            for d in glob.glob(root + "/cells/batch=*/centroid_id=*")
        }
        assert probe_ids < all_dirs  # strict subset: pruning possible

        cells = spark.read.parquet(root + "/cells").filter(
            F.col("centroid_id").isin(sorted(probe_ids))
        )
        read_files = {
            r["f"]
            for r in cells.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        }
        for f in read_files:
            cid = int(f.split("centroid_id=")[1].split("/")[0])
            assert cid in probe_ids
        assert meta["n_centroids"] == 8

    def test_missing_marker_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no IVF index marker"):
            ivf_search_index(
                _queries(spark), str(tmp_path / "nope")
            )

    def test_rebuild_is_deterministic(self, spark, tmp_path, index_path):
        """Same corpus + params → bit-identical second index (the
        quantizer is hash-seeded, not rand-seeded)."""
        p2 = str(tmp_path / "ivf2")
        write_ivf_index(_vectors(spark), p2, n_centroids=8, n_iters=2)
        a = spark.read.parquet(_data_root(spark, index_path) + "/cells").select(
            "vec_id", "centroid_id"
        )
        b = spark.read.parquet(_data_root(spark, p2) + "/cells").select(
            "vec_id", "centroid_id"
        )
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def _py_lloyd(vectors, seed_ids, n_iters):
    """Plain NumPy spherical k-means from the given seed rows: cosine
    argmax with ties to the smaller centroid id, per-cell mean,
    re-normalized — the train_centroids contract."""
    import numpy as np

    unit = {i: np.asarray(v) / np.linalg.norm(v) for i, v in vectors}
    cents = [(cid, unit[i]) for cid, i in enumerate(seed_ids, start=1)]
    for _ in range(n_iters):
        cells: dict = {}
        for v in unit.values():
            cid = max(cents, key=lambda t: (v @ t[1] / np.linalg.norm(t[1]), -t[0]))[0]
            cells.setdefault(cid, []).append(v)
        cents = []
        for cid, vs in sorted(cells.items()):
            m = np.mean(vs, axis=0)
            cents.append((cid, m / np.linalg.norm(m)))
    return cents


class TestNullEmbeddings:
    def test_train_centroids_unchanged_and_null_rows_ignored(self, spark):
        """Seeds are the non-NULL rows with the smallest
        (xxhash64(id), id); the Lloyd iterations match a NumPy
        replay; and NULL-embedding rows change neither (they used to
        become NULL seeds and crash the assignment)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            train_centroids,
        )

        vecs = _vectors(spark, n=200)
        with_nulls = vecs.unionByName(
            spark.range(5000, 5040).select(
                F.col("id").alias("vec_id"),
                F.lit(None).cast("array<double>").alias("embedding"),
            )
        )
        seed_ids = [
            r.vec_id
            for r in vecs.select("vec_id", F.xxhash64("vec_id").alias("h"))
            .orderBy("h", "vec_id")
            .limit(6)
            .collect()
        ]
        rows = [(r.vec_id, r.embedding) for r in vecs.collect()]
        for n_iters in (0, 2):
            want = _py_lloyd(rows, seed_ids, n_iters)
            got = sorted(
                (r.centroid_id, r.centroid)
                for r in train_centroids(vecs, 6, n_iters=n_iters).collect()
            )
            assert [c for c, _ in got] == [c for c, _ in want]
            for (_, g), (_, w) in zip(got, want):
                assert g == pytest.approx(list(w), abs=1e-9)
            got_nulls = sorted(
                (r.centroid_id, r.centroid)
                for r in train_centroids(
                    with_nulls, 6, n_iters=n_iters
                ).collect()
            )
            assert got_nulls == got

    def test_null_embedding_corpus_writes_and_searches(
        self, spark, tmp_path
    ):
        """NULL-embedding rows land in the NULL cell of a built index
        and never reach a probe: a full-probe search equals brute force
        over the non-NULL rows."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        vecs = _vectors(spark, n=120)
        nulls = spark.range(9000, 9030).select(
            F.col("id").alias("vec_id"),
            F.lit(None).cast("array<double>").alias("embedding"),
        )
        p = str(tmp_path / "ivfnull")
        write_ivf_index(vecs.unionByName(nulls), p, n_centroids=4, n_iters=2)
        cells = spark.read.parquet(_data_root(spark, p) + "/cells")
        assert cells.count() == 150
        assert {
            r.vec_id for r in cells.filter(F.col("centroid_id").isNull()).collect()
        } == set(range(9000, 9030))
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=4, k=5)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0


class TestPointerFlipRebuild:
    """IVF rebuilds commit by manifest pointer flip (round-4 ADVICE:
    the in-place cells-then-centroids overwrite had a torn window that
    scored new-quantizer cells against old centroids — silently wrong
    neighbors). A crash anywhere mid-rebuild now leaves the old index
    fully live."""

    def test_crash_before_publish_keeps_old_index_consistent(
        self, spark, index_path, monkeypatch
    ):
        from datawaves_etl_airflow_spark.sources import manifest as mf

        want = {
            (r["query_id"], r["match_id"], r["rank"])
            for r in ivf_search_index(
                _queries(spark), index_path, nprobe=2, k=5
            ).collect()
        }
        real = mf.create_text_exclusive
        state = {"armed": True}

        def crashing(spark_, path_, content):
            if state["armed"] and "manifest-" in path_:
                state["armed"] = False
                raise RuntimeError("injected crash before index commit")
            return real(spark_, path_, content)

        monkeypatch.setattr(mf, "create_text_exclusive", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_ivf_index(
                _vectors(spark, n=100, seed=99), index_path,
                n_centroids=4, n_iters=1,
            )
        # probes answer IDENTICALLY to before the crashed rebuild:
        # centroids and cells are still the same committed version
        got = {
            (r["query_id"], r["match_id"], r["rank"])
            for r in ivf_search_index(
                _queries(spark), index_path, nprobe=2, k=5
            ).collect()
        }
        assert got == want
        # the retry commits the new version
        write_ivf_index(
            _vectors(spark, n=100, seed=99), index_path,
            n_centroids=4, n_iters=1,
        )
        meta = read_ivf_index_meta(spark, index_path)
        assert meta["n_centroids"] == 4

    def test_rebuild_then_vacuum_drops_old_version(
        self, spark, index_path
    ):
        old_root = _data_root(spark, index_path)
        write_ivf_index(
            _vectors(spark, n=100, seed=99), index_path,
            n_centroids=4, n_iters=1,
        )
        assert os.path.isdir(old_root)
        deleted = vacuum_ivf_index(spark, index_path)
        assert any(old_root.rstrip("/") in p for p in deleted)
        assert not os.path.exists(old_root)
        got = ivf_search_index(_queries(spark), index_path, nprobe=2, k=5)
        assert got.count() > 0


class TestMultiProbeLsh:
    def test_multi_probe_recall_in_neardup_regime(self, spark):
        """Sign-LSH's honest domain is the near-dup regime (SCALE.md):
        queries are PLANTED perturbations of corpus vectors. There,
        multi-probe recall of the planted neighbor dominates
        single-bucket recall and covers every ≤1-bit signature
        disagreement; returned cosines are exact."""
        import random as _random

        from datawaves_etl_airflow_spark.operators.similarity import (
            lsh_topk,
        )

        rng = _random.Random(5)
        base = [
            [rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(300)
        ]
        vecs = spark.createDataFrame(
            list(enumerate(base)), "vec_id long, embedding array<double>"
        )
        # query q probes the perturbed copy of corpus vector q
        qs = spark.createDataFrame(
            [
                (i, [x + rng.uniform(-0.02, 0.02) for x in base[i]])
                for i in range(0, 40)
            ],
            "query_id long, query_vec array<double>",
        )

        def planted_recall(approx):
            hits = {
                r["query_id"]
                for r in approx.collect()
                if r["match_id"] == r["query_id"]
            }
            return len(hits) / 40

        single = lsh_topk(vecs, qs, dim=DIM, k=3, n_planes=8)
        multi = lsh_topk(
            vecs, qs, dim=DIM, k=3, n_planes=8, multi_probe=True
        )
        r_single, r_multi = planted_recall(single), planted_recall(multi)
        assert r_multi >= r_single
        assert r_multi > 0.9  # ≤1-bit flips covered by construction
        # cosines are exact true distances (rerank, not approximation)
        row = multi.filter(F.col("match_id") == F.col("query_id")).first()
        assert row["cosine_sim"] > 0.99

    def test_multi_probe_adds_no_extra_shuffle(self, spark):
        """The probe explode needs NO candidate dedup (probed buckets
        are pairwise distinct, a vector lives in exactly one) — so the
        multi-probe plan must have exactly the single-probe plan's
        exchanges, and the output must still be pair-unique."""
        from datawaves_etl_airflow_spark.operators.similarity import lsh_topk

        vecs = _vectors(spark, n=100, seed=2)
        qs = _queries(spark, n=4, seed=3)

        def exchanges(df):
            return df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )

        single = lsh_topk(vecs, qs, dim=DIM, k=50, n_planes=4)
        multi = lsh_topk(
            vecs, qs, dim=DIM, k=50, n_planes=4, multi_probe=True
        )
        assert exchanges(multi) == exchanges(single)
        seen = [
            (r["query_id"], r["match_id"]) for r in multi.collect()
        ]
        assert len(seen) == len(set(seen))


class Test2LevelIvfIndex:
    """`write_ivf_index(n_fine=...)` — the two-level quantizer wired
    into the persisted layout (r7 verdict task 1): the corpus assigns
    hierarchically (O(√k+√k) dots/row, never the O(n·k) flat scan),
    fine centroid ids ARE the global `centroid_id=` partition values,
    and every lifecycle op (probe, append, compaction, vacuum,
    shared-quantizer dedup) works unchanged over the layout."""

    @pytest.fixture()
    def index2_path(self, spark, tmp_path):
        p = str(tmp_path / "ivf2l")
        write_ivf_index(
            _vectors(spark), p, n_centroids=4, n_iters=1, n_fine=4
        )
        return p

    def test_meta_and_quantizer_reader(self, spark, index2_path, index_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            read_ivf_quantizer,
        )

        meta = read_ivf_index_meta(spark, index2_path)
        assert meta["n_fine"] == 4 and meta["n_centroids"] == 4
        coarse, fine = read_ivf_quantizer(spark, index2_path)
        assert coarse.count() == 4
        assert set(fine.columns) == {"centroid_id", "coarse_id", "centroid"}
        # global-id arithmetic: coarse_id = (centroid_id-1) div n_fine + 1
        bad = fine.filter(
            F.col("coarse_id")
            != (F.floor((F.col("centroid_id") - 1) / 4) + 1)
        )
        assert bad.count() == 0
        # flat index: no coarse level, 2-col fine table
        c0, f0 = read_ivf_quantizer(spark, index_path)
        assert c0 is None
        assert set(f0.columns) == {"centroid_id", "centroid"}

    def test_full_probe_is_exact(self, spark, index2_path):
        """nprobe = all cells scores every partition, so the persisted
        2-level probe must equal brute force bit-for-bit — the
        value-level certificate that build, layout, manifest resolve
        and probe compose (the driver twin is llm_ann_ivf_2level)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        q = _queries(spark)
        got = ivf_search_index(q, index2_path, nprobe=16, k=5)
        want = brute_force_topk(_vectors(spark), q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_matches_in_session_2level(self, spark, index2_path):
        """Persisted probe ≡ in-session ivf_topk(n_fine=...) at a
        PRUNED nprobe: same deterministic quantizer → same cells →
        same candidates."""
        q = _queries(spark)
        got = ivf_search_index(q, index2_path, nprobe=3, k=5)
        want = ivf_topk(
            _vectors(spark), q, n_centroids=4, nprobe=3, k=5,
            n_iters=1, n_fine=4,
        )
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_append_assigns_hierarchically_and_idempotent(
        self, spark, tmp_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            _assign_cells,
            append_ivf_index,
            l2_normalize,
            read_ivf_quantizer,
        )

        p = str(tmp_path / "ivf2l_app")
        vecs = _vectors(spark)
        base = vecs.filter(F.col("vec_id") % 5 != 0)
        day = vecs.filter(F.col("vec_id") % 5 == 0)
        write_ivf_index(base, p, n_centroids=4, n_iters=1, n_fine=4)
        append_ivf_index(day, p, batch_token="d1")
        append_ivf_index(day, p, batch_token="d1")  # replay no-ops
        root = _data_root(spark, p)
        stored = spark.read.parquet(root + "/cells")
        # no duplicates from the replayed fold
        assert stored.count() == vecs.count()
        # the batch's stored cells match the hierarchical argmax
        # against the stored quantizer (NOT a flat argmax over fine)
        coarse, fine = read_ivf_quantizer(spark, p)
        norm = day.select(
            F.col("vec_id").alias("_vid"),
            l2_normalize(F.col("embedding")).alias("_v"),
        )
        want = _assign_cells(norm, "_v", fine, coarse).select(
            F.col("_vid").alias("vec_id"), "centroid_id"
        )
        got = stored.join(
            day.select("vec_id"), "vec_id", "left_semi"
        ).select("vec_id", "centroid_id")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_compaction_preserves_quantizer_and_results(
        self, spark, tmp_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
            brute_force_topk,
            compact_ivf_index,
        )

        p = str(tmp_path / "ivf2l_cmp")
        vecs = _vectors(spark)
        base = vecs.filter(F.col("vec_id") % 5 != 0)
        day = vecs.filter(F.col("vec_id") % 5 == 0)
        write_ivf_index(base, p, n_centroids=4, n_iters=1, n_fine=4)
        append_ivf_index(day, p, batch_token="d1")
        q = _queries(spark)
        before = ivf_search_index(q, p, nprobe=16, k=5)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert before.select(cols).exceptAll(want.select(cols)).count() == 0
        assert compact_ivf_index(spark, p) is True
        meta = read_ivf_index_meta(spark, p)
        assert meta["n_fine"] == 4  # parameter contract survives
        after = ivf_search_index(q, p, nprobe=16, k=5)
        assert after.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(after.select(cols)).count() == 0
        # superseded version reclaimed, probe still green
        vacuum_ivf_index(spark, p)
        again = ivf_search_index(q, p, nprobe=16, k=5)
        assert again.select(cols).exceptAll(want.select(cols)).count() == 0

    def test_shared_quantizer_dedup_no_retraining(self, spark, index2_path):
        """semantic_dedup over read_ivf_quantizer of a 2-level index:
        hierarchical assignment against the STORED tables — the plan
        carries no Lloyd lineage (posexplode) and no flat scan of the
        fine table on the corpus side (the fine argmax array is built
        per-coarse-cell, joined broadcast)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            read_ivf_quantizer,
            semantic_dedup,
        )

        coarse, fine = read_ivf_quantizer(spark, index2_path)
        d = semantic_dedup(
            _vectors(spark),
            n_centroids=16,
            threshold=0.999,
            centroids=fine,
            coarse_centroids=coarse,
        )
        p = d._jdf.queryExecution().executedPlan().toString()
        assert "posexplode" not in p  # no retraining
        assert d.count() == 300  # every row decided


class Test2LevelKnnEval:
    def test_full_probe_knn_eval_matches_brute_force(self, spark, tmp_path):
        """knn_label_predict_index over a 2-LEVEL index at full probe:
        every cell is scored, so neighbor selection — and therefore
        every prediction — must be bit-identical to the brute-force
        form regardless of how the two-stage assignment distributed
        the corpus over cells (the same invariant the flat
        llm_knn_ivf_eval driver row certifies)."""
        import random as _random

        from datawaves_etl_airflow_spark.operators.similarity import (
            knn_label_predict,
            knn_label_predict_index,
        )

        rng = _random.Random(5)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(DIM)], i % 3)
            for i in range(200)
        ]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label long"
        )
        qs = corpus.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("label").alias("true_label"),
        )
        p = str(tmp_path / "knn2l")
        write_ivf_index(corpus, p, n_centroids=3, n_iters=1, n_fine=3)
        got = knn_label_predict_index(
            corpus.select("vec_id", "label"), qs, p, k=5, nprobe=9
        )
        want = knn_label_predict(corpus, qs, k=5)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


class TestInt8IvfIndex:
    """cell_storage="int8": cells store quantize_embeddings_int8's
    exact floor transform narrowed to array<tinyint> + one double
    scale — the probe scans ~7× fewer corpus bytes (the dominant ANN
    cost on object storage, on top of partition pruning) and ranks
    over the in-plan q×scale reconstruction."""

    def test_meta_recall_and_cosine_error(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "ivf8")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        assert read_ivf_index_meta(spark, p)["cell_storage"] == "int8"
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=8, k=5)  # full probe
        want = brute_force_topk(vecs, q, k=5)
        # quantization moves cosines ≤ ~1 LSB/dim: exact-id recall
        # stays high and every surfaced cosine sits within 0.02 of
        # the true cosine for that (query, match) pair
        hits = got.join(
            want.select("query_id", "match_id"),
            ["query_id", "match_id"],
            "left_semi",
        ).count()
        assert hits >= 0.8 * want.count()
        err = (
            got.withColumnRenamed("cosine_sim", "approx")
            .join(
                brute_force_topk(vecs, q, k=300)
                .select("query_id", "match_id", "cosine_sim"),
                ["query_id", "match_id"],
            )
            .selectExpr("max(abs(approx - cosine_sim)) AS e")
            .first()["e"]
        )
        assert err is not None and err < 0.02

    def test_cells_bytes_under_half_of_raw(self, spark, tmp_path):
        """The claim is scan BYTES, so measure on a corpus large
        enough that parquet per-file overhead (~2 KB of footer and
        page headers per part file) doesn't drown the payload — at
        2000×64d the raw vector payload is ~1 MB and the measured
        ratio lands near the 512→72 bytes/row arithmetic."""
        import pathlib
        import random as _random

        rng = _random.Random(3)
        vecs = spark.createDataFrame(
            [
                (i, [rng.uniform(-1, 1) for _ in range(64)])
                for i in range(2000)
            ],
            "vec_id long, embedding array<double>",
        )
        p_raw = str(tmp_path / "raw")
        p_int8 = str(tmp_path / "int8")
        write_ivf_index(vecs, p_raw, n_centroids=4, n_iters=1)
        write_ivf_index(
            vecs, p_int8, n_centroids=4, n_iters=1, cell_storage="int8"
        )

        def cell_bytes(path):
            root = pathlib.Path(_data_root(spark, path)) / "cells"
            return sum(
                f.stat().st_size
                for f in root.rglob("part-*")
                if f.is_file()
            )

        assert cell_bytes(p_int8) < 0.5 * cell_bytes(p_raw)

    def test_append_and_compact_preserve_storage(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
            compact_ivf_index,
        )

        p = str(tmp_path / "ivf8app")
        vecs = _vectors(spark)
        base = vecs.filter(F.col("vec_id") % 5 != 0)
        day = vecs.filter(F.col("vec_id") % 5 == 0)
        write_ivf_index(
            base, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        append_ivf_index(day, p, batch_token="d1")
        append_ivf_index(day, p, batch_token="d1")  # replay no-op
        root = _data_root(spark, p)
        stored = spark.read.parquet(root + "/cells")
        assert set(stored.columns) >= {"vec_id", "q", "scale"}
        assert stored.count() == vecs.count()
        q = _queries(spark)
        before = {
            (r.query_id, r.match_id)
            for r in ivf_search_index(q, p, nprobe=8, k=5).collect()
        }
        assert compact_ivf_index(spark, p) is True
        assert read_ivf_index_meta(spark, p)["cell_storage"] == "int8"
        after = {
            (r.query_id, r.match_id)
            for r in ivf_search_index(q, p, nprobe=8, k=5).collect()
        }
        assert after == before

    def test_int8_composes_with_two_level(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "ivf8_2l")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=4, n_iters=1, n_fine=4,
            cell_storage="int8",
        )
        meta = read_ivf_index_meta(spark, p)
        assert meta["n_fine"] == 4 and meta["cell_storage"] == "int8"
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=16, k=5)
        want = brute_force_topk(vecs, q, k=5)
        hits = got.join(
            want.select("query_id", "match_id"),
            ["query_id", "match_id"],
            "left_semi",
        ).count()
        assert hits >= 0.8 * want.count()

    def test_unknown_storage_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="cell_storage"):
            write_ivf_index(
                _vectors(spark),
                str(tmp_path / "bad"),
                cell_storage="fp4",
            )

    def test_rerank_restores_exact_results(self, spark, tmp_path):
        """Two-stage ADC probe: int8 cells rank a 4k shortlist on the
        quantized reconstruction, the raw-vector rerank then restores
        EXACT top-k — bit-identical to brute force at full probe on
        this seeded fixture (the exact top-5 sits comfortably inside
        the approx top-20: max quantized-cosine drift is pinned at
        < 0.02 while the fixture's rank-5→rank-20 cosine gap is much
        wider for every query)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "ivf8rr")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=8, k=5, rerank=vecs)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_rerank_broadcasts_shortlist_not_corpus(self, spark, tmp_path):
        """The rerank join must broadcast the |queries|·4k SHORTLIST;
        the raw corpus is scanned once, never shuffled or broadcast."""
        p = str(tmp_path / "ivf8rp")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        got = ivf_search_index(
            _queries(spark), p, nprobe=2, k=5, rerank=vecs
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestKnnEvalInt8Rerank:
    def test_votes_run_on_exact_cosines(self, spark, tmp_path):
        """knn_label_predict_index(rerank=raw) over an int8 index at
        full probe must predict EXACTLY what the brute-force form
        predicts — the rerank makes neighbor selection exact, so the
        label pipeline can run on the cheap-scan tier without
        accepting approximate votes."""
        import random as _random

        from datawaves_etl_airflow_spark.operators.similarity import (
            knn_label_predict,
            knn_label_predict_index,
        )

        rng = _random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(DIM)], i % 3)
            for i in range(200)
        ]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label long"
        )
        qs = corpus.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("label").alias("true_label"),
        )
        p = str(tmp_path / "knn8")
        write_ivf_index(
            corpus, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        got = knn_label_predict_index(
            corpus.select("vec_id", "label"),
            qs,
            p,
            k=5,
            nprobe=8,
            rerank=corpus.select("vec_id", "embedding"),
        )
        want = knn_label_predict(corpus, qs, k=5)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_missing_raw_rows_fall_back_to_quantized(self, spark, tmp_path):
        """A candidate absent from the rerank table must keep its
        quantized cosine, never silently drop out of the top-k (the
        realistic append-then-rerank workflow: rows folded after the
        raw snapshot). Degenerate pin: an EMPTY rerank table must
        reproduce the pure-quantized probe bit-for-bit — every
        candidate takes the fallback path."""
        p = str(tmp_path / "ivf8fb")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        q = _queries(spark)
        plain = ivf_search_index(q, p, nprobe=8, k=5)
        empty = vecs.filter(F.lit(False))
        fb = ivf_search_index(q, p, nprobe=8, k=5, rerank=empty)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert fb.select(cols).exceptAll(plain.select(cols)).count() == 0
        assert plain.select(cols).exceptAll(fb.select(cols)).count() == 0
        # partial raw table: k rows per query survive regardless
        half = vecs.filter(F.col("vec_id") % 2 == 0)
        part = ivf_search_index(q, p, nprobe=8, k=5, rerank=half)
        counts = part.groupBy("query_id").count().collect()
        assert all(r["count"] == 5 for r in counts)


class TestIvfIndexStats:
    def test_counts_batches_and_compaction_watermark(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
            compact_ivf_index,
            ivf_index_stats,
        )

        p = str(tmp_path / "ivfst")
        vecs = _vectors(spark)
        base = vecs.filter(F.col("vec_id") % 5 != 0)
        day = vecs.filter(F.col("vec_id") % 5 == 0)
        write_ivf_index(base, p, n_centroids=4, n_iters=1)
        append_ivf_index(day, p, batch_token="d1")
        stats = ivf_index_stats(spark, p).collect()
        assert sum(r["n_rows"] for r in stats) == vecs.count()
        assert len(stats) <= 4
        # fold fragmentation visible: at least one cell spans both
        # the base and the d1 batch dirs
        assert max(r["n_batches"] for r in stats) == 2
        assert compact_ivf_index(spark, p) is True
        after = ivf_index_stats(spark, p).collect()
        assert sum(r["n_rows"] for r in after) == vecs.count()
        assert max(r["n_batches"] for r in after) == 1  # folded to base
        # per-cell counts unchanged by compaction
        assert sorted((r["centroid_id"], r["n_rows"]) for r in after) == \
            sorted((r["centroid_id"], r["n_rows"]) for r in stats)

    def test_legacy_layout_without_batch_level(self, spark, tmp_path):
        """Pre-manifest marker layouts (cells/centroids at the index
        root, no batch= partition level — they predate
        append_ivf_index) must still yield stats: n_batches is the
        constant 1 the single-batch layout implies, not an
        unresolved-column error (r8 ADVICE). Probes on the same
        layout keep working, so stats may not be the one op that
        rejects it."""
        import json
        import shutil

        from datawaves_etl_airflow_spark.operators.similarity import (
            IVF_META_FILE,
            ivf_index_stats,
        )

        modern = str(tmp_path / "modern")
        vecs = _vectors(spark)
        write_ivf_index(vecs, modern, n_centroids=4, n_iters=1)
        root = _data_root(spark, modern)
        legacy = str(tmp_path / "legacy")
        os.makedirs(legacy)
        # cells WITHOUT the batch= level — the pre-append layout
        shutil.copytree(
            os.path.join(root, "cells", "batch=base"),
            os.path.join(legacy, "cells"),
        )
        shutil.copytree(
            os.path.join(root, "centroids"),
            os.path.join(legacy, "centroids"),
        )
        with open(os.path.join(legacy, IVF_META_FILE), "w") as fh:
            json.dump(
                {
                    "n_centroids": 4,
                    "n_iters": 1,
                    "vec_col": "embedding",
                    "id_col": "vec_id",
                },
                fh,
            )
        stats = ivf_index_stats(spark, legacy).collect()
        assert sum(r["n_rows"] for r in stats) == vecs.count()
        assert {r["n_batches"] for r in stats} == {1}
        # the probe path the ADVICE note contrasts against still works
        got = ivf_search_index(_queries(spark), legacy, nprobe=4, k=3)
        assert got.groupBy("query_id").count().collect()


class TestRerankExactSignal:
    def test_exact_column_flags_fallback_rows(self, spark, tmp_path):
        """The rerank output's `exact` boolean (r8 ADVICE) must be
        TRUE exactly where the candidate joined a raw vector and
        FALSE where it fell back to the quantized score — the
        caller's stale-snapshot detector. Non-rerank probes keep the
        4-column schema (no vestigial column on the exact tier)."""
        p = str(tmp_path / "ivf8sig")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        q = _queries(spark)
        plain = ivf_search_index(q, p, nprobe=8, k=5)
        assert "exact" not in plain.columns
        full = ivf_search_index(q, p, nprobe=8, k=5, rerank=vecs)
        assert "exact" in full.columns
        assert full.filter(~F.col("exact")).count() == 0
        half = vecs.filter(F.col("vec_id") % 2 == 0)
        part = ivf_search_index(q, p, nprobe=8, k=5, rerank=half)
        rows = part.collect()
        assert all(r["exact"] == (r["match_id"] % 2 == 0) for r in rows)
        assert any(not r["exact"] for r in rows)  # fallback visible


class TestMaintainIvfIndex:
    """maintain_ivf_index: the scheduled job that turns the stats
    health check into action — compact past the fragmentation
    watermark, flag (never auto-run) a rebuild on cell skew."""

    def _fresh(self, spark, tmp_path, n_appends):
        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
        )

        p = str(tmp_path / "ivfm")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs.filter(F.col("vec_id") % (n_appends + 1) == 0),
            p,
            n_centroids=4,
            n_iters=1,
        )
        for i in range(n_appends):
            append_ivf_index(
                vecs.filter(F.col("vec_id") % (n_appends + 1) == i + 1),
                p,
                batch_token=f"d{i}",
            )
        return p, vecs

    def test_noop_below_watermark(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            maintain_ivf_index,
        )
        from datawaves_etl_airflow_spark.sources.manifest import (
            VersionedManifest,
        )

        p, _ = self._fresh(spark, tmp_path, n_appends=2)
        before = VersionedManifest(p).latest_version(spark)
        rep = maintain_ivf_index(spark, p, max_batches=8)
        assert rep["compacted"] is False
        assert rep["max_batches_seen"] <= 3
        assert rep["rebuild_recommended"] is False
        # no-op means no new version was published
        assert VersionedManifest(p).latest_version(spark) == before

    def test_compacts_past_watermark_and_is_idempotent(
        self, spark, tmp_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            ivf_index_stats,
            maintain_ivf_index,
        )

        p, vecs = self._fresh(spark, tmp_path, n_appends=3)
        q = _queries(spark)
        before = ivf_search_index(q, p, nprobe=4, k=5).collect()
        rep = maintain_ivf_index(spark, p, max_batches=2)
        assert rep["compacted"] is True
        assert rep["compaction_race_lost"] is False
        stats = ivf_index_stats(spark, p).collect()
        assert max(r["n_batches"] for r in stats) == 1
        assert sum(r["n_rows"] for r in stats) == vecs.count()
        # probe results identical across the fold (pointer flip)
        after = ivf_search_index(q, p, nprobe=4, k=5).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, before))
        # second tick: below watermark now — a no-op, not a re-fold
        rep2 = maintain_ivf_index(spark, p, max_batches=2)
        assert rep2["compacted"] is False
        assert rep2["max_batches_seen"] == 1

    def test_vacuum_after_compaction(self, spark, tmp_path):
        """vacuum=True reclaims the superseded version only when a
        compaction actually fired; probes keep answering."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            maintain_ivf_index,
        )

        p, _ = self._fresh(spark, tmp_path, n_appends=3)
        old_root = _data_root(spark, p)
        rep = maintain_ivf_index(spark, p, max_batches=2, vacuum=True)
        assert rep["compacted"] is True
        assert any(old_root.rstrip("/") in d for d in rep["vacuumed"])
        assert not os.path.exists(old_root)
        assert ivf_search_index(_queries(spark), p, nprobe=4, k=5).count() > 0
        # below watermark: no compact, no vacuum key
        rep2 = maintain_ivf_index(spark, p, max_batches=2, vacuum=True)
        assert rep2["compacted"] is False and "vacuumed" not in rep2

    def test_flags_degenerate_cell_skew(self, spark, tmp_path):
        """A broken upstream job emitting thousands of near-identical
        vectors crowds ONE cell: maintain must flag the rebuild and
        name the cell, and must NOT try to fix it by compaction."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            maintain_ivf_index,
        )

        base = _vectors(spark, n=60)
        crowd = (
            spark.range(1000, 1600)
            .select(
                F.col("id").alias("vec_id"),
                F.array(
                    *[F.lit(1.0) + F.col("id") * 1e-9 for _ in range(DIM)]
                ).alias("embedding"),
            )
        )
        p = str(tmp_path / "ivfskew")
        write_ivf_index(base.union(crowd), p, n_centroids=8, n_iters=1)
        rep = maintain_ivf_index(spark, p, max_cell_ratio=4.0)
        # the crowd collapses most centroids onto itself (2 non-empty
        # cells here), which is exactly why the ratio denominator is
        # the BALANCED size n_rows/k=82.5, not the non-empty mean 330
        assert rep["n_cells"] < rep["n_cells_configured"]
        assert rep["rebuild_recommended"] is True
        assert len(rep["skewed_cells"]) >= 1
        worst = max(rep["skewed_cells"], key=lambda t: t[1])
        assert worst[1] >= 600  # the planted crowd, in one cell
        assert rep["compacted"] is False  # skew is not a fold problem


class TestPqIvfIndex:
    """cell_storage="pq": product-quantized cells (m tinyint codes per
    row — the FAISS IVFPQ layout) with in-plan codeword reconstruction
    at probe time and the raw-vector rerank as the exactness path."""

    def _pq(self, spark, tmp_path, name="pq", **kw):
        p = str(tmp_path / name)
        kw.setdefault("n_centroids", 8)
        kw.setdefault("n_iters", 1)
        kw.setdefault("pq_m", 8)
        kw.setdefault("pq_k", 64)
        write_ivf_index(_vectors(spark), p, cell_storage="pq", **kw)
        return p

    def test_rerank_restores_exact_results(self, spark, tmp_path):
        """Full probe + raw rerank over pq cells is bit-identical to
        brute force — the two-stage ADC contract, same as int8 but
        from a ~64× smaller scan (rerank_factor widened to 12: PQ's
        reconstruction error is larger than int8's 1 LSB, so the
        exact top-5 needs a deeper quantized shortlist)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = self._pq(spark, tmp_path)
        vecs = _vectors(spark)
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=8, k=5, rerank=vecs,
                               rerank_factor=12)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0
        assert got.filter(~F.col("exact")).count() == 0

    def test_cells_bytes_fraction_of_int8_and_raw(self, spark, tmp_path):
        """The tier's claim is BYTES: pq cells must be well under half
        of int8's on disk for the same corpus (8 codes vs 64 q bytes +
        scale per 64-dim row), int8 under raw — the probed-cell scan
        cost ladder."""
        import os as _os

        sizes = {}
        for storage in ("raw", "int8", "pq"):
            p = str(tmp_path / f"b_{storage}")
            kw = {"pq_m": 8, "pq_k": 64} if storage == "pq" else {}
            write_ivf_index(
                _vectors(spark), p, n_centroids=4, n_iters=1,
                cell_storage=storage, **kw,
            )
            root = _data_root(spark, p)
            total = 0
            for dirpath, _dirs, files in _os.walk(
                _os.path.join(root, "cells")
            ):
                total += sum(
                    _os.path.getsize(_os.path.join(dirpath, f))
                    for f in files
                    if f.endswith(".parquet")
                )
            sizes[storage] = total
        assert sizes["pq"] < sizes["int8"] / 2
        assert sizes["int8"] < sizes["raw"] / 2

    def test_append_encodes_with_stored_codebooks_replay_identical(
        self, spark, tmp_path
    ):
        """An appended batch encodes against the PERSISTED codebooks
        (no retraining), and a same-token replay lands bit-identical
        codes; compaction preserves probe results across the fold."""
        import os as _os

        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
            compact_ivf_index,
        )

        p = self._pq(spark, tmp_path)
        vecs = _vectors(spark)
        day = vecs.select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        append_ivf_index(day, p, batch_token="d1")
        root = _data_root(spark, p)
        batch_dir = _os.path.join(root, "cells", "batch=d1")
        first = sorted(
            (r["vec_id"], tuple(r["codes"]), r["centroid_id"])
            for r in spark.read.option("basePath", batch_dir)
            .parquet(batch_dir).collect()
        )
        append_ivf_index(day, p, batch_token="d1")  # replay
        second = sorted(
            (r["vec_id"], tuple(r["codes"]), r["centroid_id"])
            for r in spark.read.option("basePath", batch_dir)
            .parquet(batch_dir).collect()
        )
        assert first == second
        q = _queries(spark)
        before = sorted(
            map(tuple, ivf_search_index(q, p, nprobe=8, k=5).collect())
        )
        assert compact_ivf_index(spark, p) is True
        after = sorted(
            map(tuple, ivf_search_index(q, p, nprobe=8, k=5).collect())
        )
        assert after == before

    def test_build_is_deterministic(self, spark, tmp_path):
        """Same corpus + params → bit-identical codes (hash-order
        seeding, id tiebreaks, densified code ids)."""
        p1 = self._pq(spark, tmp_path, "pqa")
        p2 = self._pq(spark, tmp_path, "pqb")
        read = lambda p: sorted(  # noqa: E731
            (r["vec_id"], tuple(r["codes"]), r["centroid_id"])
            for r in spark.read.parquet(
                _data_root(spark, p) + "/cells"
            ).collect()
        )
        assert read(p1) == read(p2)

    def test_knn_eval_with_rerank_matches_brute_force(self, spark, tmp_path):
        """The label-eval composition over pq cells: full probe +
        rerank makes every vote run on exact cosines — predictions
        identical to the brute-force form (the int8 pin, one tier
        smaller)."""
        import random as _random

        from datawaves_etl_airflow_spark.operators.similarity import (
            knn_label_predict,
            knn_label_predict_index,
        )

        rng = _random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(DIM)], i % 3)
            for i in range(200)
        ]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label long"
        )
        qs = corpus.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("label").alias("true_label"),
        )
        p = str(tmp_path / "knnpq")
        write_ivf_index(
            corpus, p, n_centroids=8, n_iters=1, cell_storage="pq",
            pq_m=8, pq_k=64,
        )
        got = knn_label_predict_index(
            corpus.select("vec_id", "label"), qs, p, k=5, nprobe=8,
            rerank=corpus.select("vec_id", "embedding"),
            rerank_factor=12,
        )
        want = knn_label_predict(corpus, qs, k=5)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_pq_composes_with_two_level(self, spark, tmp_path):
        """pq cells under a 2-level quantizer (the billion-vector
        layout: hierarchical addressing AND sub-int8 bytes): metadata
        carries both, and full probe + raw rerank is still exact —
        rerank exactness never depended on the storage tier or the
        quantizer shape, only on shortlist depth (the int8 twin's
        composition pin, one tier smaller)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "pq_2l")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=4, n_iters=1, n_fine=4,
            cell_storage="pq", pq_m=8, pq_k=32,
        )
        meta = read_ivf_index_meta(spark, p)
        assert meta["n_fine"] == 4 and meta["cell_storage"] == "pq"
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=16, k=5, rerank=vecs,
                               rerank_factor=12)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0
        assert got.filter(~F.col("exact")).count() == 0

    def test_parameter_validation(self, spark, tmp_path):
        with pytest.raises(ValueError, match="not divisible"):
            write_ivf_index(
                _vectors(spark), str(tmp_path / "bad1"),
                n_centroids=4, n_iters=1, cell_storage="pq", pq_m=5,
            )
        with pytest.raises(ValueError, match="pq_k"):
            write_ivf_index(
                _vectors(spark), str(tmp_path / "bad2"),
                n_centroids=4, n_iters=1, cell_storage="pq", pq_k=512,
            )


class TestTrainFraction:
    """train_fraction: the quantizer (and PQ codebooks) train on a
    deterministic id-hash sample; assignment still covers the whole
    corpus — the 100 TB build shape (Lloyd passes over a sample, one
    assignment pass over everything)."""

    def test_full_corpus_indexed_probe_works(self, spark, tmp_path):
        p = str(tmp_path / "ivffrac")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=4, n_iters=1, train_fraction=0.3
        )
        root = _data_root(spark, p)
        cells = spark.read.parquet(root + "/cells")
        assert cells.count() == vecs.count()  # every row indexed
        got = ivf_search_index(_queries(spark), p, nprobe=4, k=5)
        assert got.groupBy("query_id").count().count() == 6

    def test_deterministic_across_rebuilds(self, spark, tmp_path):
        """Hash sampling (not DataFrame.sample) → bit-identical
        assignments on a rebuild, the property the pointer-flip
        protocol's determinism tests rely on."""
        reads = []
        for name in ("fa", "fb"):
            p = str(tmp_path / name)
            write_ivf_index(
                _vectors(spark), p, n_centroids=4, n_iters=1,
                train_fraction=0.3,
            )
            reads.append(sorted(
                (r["vec_id"], r["centroid_id"])
                for r in spark.read.parquet(
                    _data_root(spark, p) + "/cells"
                ).select("vec_id", "centroid_id").collect()
            ))
        assert reads[0] == reads[1]

    def test_sampled_pq_exact_with_rerank(self, spark, tmp_path):
        """Sampled codebooks are still codebooks: the two-stage rerank
        stays exact (it never depended on reconstruction quality, only
        on the shortlist being deep enough)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "ivffpq")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=4, n_iters=1, cell_storage="pq",
            pq_m=8, pq_k=32, train_fraction=0.5,
        )
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=4, k=5, rerank=vecs,
                               rerank_factor=20)
        want = brute_force_topk(vecs, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_validation(self, spark, tmp_path):
        with pytest.raises(ValueError, match="train_fraction"):
            write_ivf_index(
                _vectors(spark), str(tmp_path / "bad"),
                n_centroids=4, train_fraction=1.5,
            )


class TestFilteredSearch:
    """allowed=: metadata-filtered ANN — top-k computed AMONG the
    allowed ids (pre-rank semi join), not post-filtered out of an
    unconstrained top-k."""

    def test_full_probe_equals_brute_force_on_filtered_corpus(
        self, spark, index_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        vecs = _vectors(spark)
        evens = vecs.filter(F.col("vec_id") % 2 == 0)
        q = _queries(spark)
        got = ivf_search_index(
            q, index_path, nprobe=8, k=5,
            allowed=evens.select("vec_id"),
        )
        want = brute_force_topk(evens, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0
        # every returned id respects the predicate
        assert got.filter(F.col("match_id") % 2 != 0).count() == 0

    def test_composes_with_int8_rerank(self, spark, tmp_path):
        """Filter + quantized scan + exact rerank in one probe: the
        result is the exact filtered top-k."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
        )

        p = str(tmp_path / "ivf8f")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs, p, n_centroids=8, n_iters=1, cell_storage="int8"
        )
        evens = vecs.filter(F.col("vec_id") % 2 == 0)
        q = _queries(spark)
        got = ivf_search_index(
            q, p, nprobe=8, k=5, rerank=vecs,
            allowed=evens.select("vec_id"),
        )
        want = brute_force_topk(evens, q, k=5)
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_single_column_coercion_and_empty(self, spark, index_path):
        spark_ = spark
        some = spark_.createDataFrame(
            [(2,), (4,), (6,)], "whatever_name long"
        )
        got = ivf_search_index(
            _queries(spark), index_path, nprobe=8, k=5, allowed=some
        )
        assert {r["match_id"] for r in got.collect()} <= {2, 4, 6}
        empty = some.filter(F.lit(False))
        assert ivf_search_index(
            _queries(spark), index_path, nprobe=8, k=5, allowed=empty
        ).count() == 0

    def test_n_candidates_surfaces_recall_starvation(
        self, spark, index_path
    ):
        """The r10 observability column: a selective predicate that
        leaves fewer than k allowed rows in the probed cells must
        UNDER-FILL visibly — n_candidates < k on every returned row —
        instead of silently returning a short result that looks like
        a small corpus. Unconstrained searches omit the column."""
        three = spark.createDataFrame([(2,), (4,), (6,)], "vec_id long")
        got = ivf_search_index(
            _queries(spark), index_path, nprobe=8, k=5, allowed=three
        )
        assert "n_candidates" in got.columns
        rows = got.collect()
        assert rows and all(r["n_candidates"] == 3 for r in rows)
        per_q = got.groupBy("query_id").count().collect()
        assert all(r["count"] == 3 for r in per_q)  # starved below k
        # plentiful predicate at full probe: n_candidates = allowed size
        evens = _vectors(spark).filter(F.col("vec_id") % 2 == 0)
        full = ivf_search_index(
            _queries(spark), index_path, nprobe=8, k=5,
            allowed=evens.select("vec_id"),
        )
        assert all(r["n_candidates"] == 150 for r in full.collect())
        # the column also survives the rerank branch
        rr = ivf_search_index(
            _queries(spark), index_path, nprobe=8, k=5, allowed=three,
            rerank=_vectors(spark),
        )
        assert {"n_candidates", "exact"} <= set(rr.columns)
        assert all(r["n_candidates"] == 3 for r in rr.collect())
        # unconstrained: no column
        plain = ivf_search_index(_queries(spark), index_path, nprobe=8, k=5)
        assert "n_candidates" not in plain.columns
        # zero extra shuffle: the count window shares the rank window's
        # query_id partitioning, so the filtered plan still carries
        # exactly ONE query_id hash exchange on the candidate side
        # (an executed AQE plan string repeats the tree under
        # "== Initial Plan ==" — pin the Final Plan section only)
        import re as _re

        s = got._jdf.queryExecution().executedPlan().toString()
        s = s.split("== Initial Plan ==")[0]
        assert len(
            _re.findall(r"Exchange hashpartitioning\(query_id", s)
        ) == 1


class TestAnnRecallEval:
    """ann_recall_eval (r10): the nprobe-tuning harness — recall@k vs
    the exact top-k across a probe-width ladder."""

    def test_monotone_and_exact_at_full_probe(self, spark, index_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            ann_recall_eval,
        )

        vecs = _vectors(spark)
        q = _queries(spark)
        rows = {
            r["nprobe"]: r
            for r in ann_recall_eval(
                q, index_path, k=5, nprobes=(1, 2, 4, 8), corpus=vecs
            ).collect()
        }
        assert set(rows) == {1, 2, 4, 8}
        recalls = [rows[n]["recall_at_k"] for n in (1, 2, 4, 8)]
        # raw cells rank by true cosine: wider probes only add
        # candidates, so recall is monotone and exact at full probe
        assert all(a <= b for a, b in zip(recalls, recalls[1:]))
        assert recalls[-1] == 1.0
        assert all(0.0 <= r <= 1.0 for r in recalls)
        assert all(rows[n]["n_queries"] == 6 for n in rows)
        # mean_overlap is recall * k by construction (each is rounded
        # to 6 places independently, so compare with tolerance)
        for n in rows:
            assert abs(
                rows[n]["mean_overlap"] - rows[n]["recall_at_k"] * 5
            ) < 1e-5

    def test_precomputed_exact_and_quantized_rerank(
        self, spark, tmp_path
    ):
        """exact= short-circuits the brute force; an int8 index with
        the raw rerank reaches recall 1.0 at full probe (the deployed
        quantized configuration, evaluated as deployed)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            ann_recall_eval,
            brute_force_topk,
        )

        vecs = _vectors(spark)
        q = _queries(spark)
        p = str(tmp_path / "ivf8r")
        write_ivf_index(vecs, p, n_centroids=8, n_iters=1,
                        cell_storage="int8")
        truth = brute_force_topk(vecs, q, k=5)
        rows = {
            r["nprobe"]: r["recall_at_k"]
            for r in ann_recall_eval(
                q, p, k=5, nprobes=(2, 8), exact=truth,
                rerank=vecs, rerank_factor=8,
            ).collect()
        }
        assert rows[8] == 1.0
        assert 0.0 <= rows[2] <= 1.0

    def test_validation(self, spark, index_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            ann_recall_eval,
        )

        with pytest.raises(ValueError, match="exact=.*or corpus="):
            ann_recall_eval(_queries(spark), index_path)
        empty = _queries(spark).filter(F.lit(False))
        with pytest.raises(ValueError, match="non-empty"):
            ann_recall_eval(
                empty, index_path, corpus=_vectors(spark)
            )


class TestIvfDeletes:
    """delete_from_ivf_index: tombstone deletes — the data-retraction
    path (takedowns, right-to-be-forgotten) a 100 TB index cannot
    serve with a rebuild. Tombstones are O(|deleted|) writes applied
    logically at every probe through the _decoded_cells seam and
    physically at compaction."""

    def _built(self, spark, tmp_path, **kw):
        p = str(tmp_path / "ivfdel")
        vecs = _vectors(spark)
        write_ivf_index(vecs, p, n_centroids=8, n_iters=1, **kw)
        return p, vecs

    def test_full_probe_equals_brute_force_over_survivors(
        self, spark, tmp_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            brute_force_topk,
            delete_from_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path)
        deleted = vecs.filter(F.col("vec_id") % 7 == 0).select("vec_id")
        delete_from_ivf_index(deleted, p, delete_token="take1")
        q = _queries(spark)
        got = ivf_search_index(q, p, nprobe=8, k=5)
        want = brute_force_topk(
            vecs.filter(F.col("vec_id") % 7 != 0), q, k=5
        )
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0
        # and the deleted ids never surface
        assert (
            got.filter(F.col("match_id") % 7 == 0).count() == 0
        )

    def test_replay_and_absent_ids_are_noops(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path)
        dels = spark.createDataFrame(
            [(3,), (3,), (999_999,)], "vec_id long"
        )
        delete_from_ivf_index(dels, p, delete_token="t1")
        before = sorted(
            map(tuple, ivf_search_index(_queries(spark), p, nprobe=8,
                                        k=5).collect())
        )
        # same-token retry overwrites its own batch dir — no change
        delete_from_ivf_index(dels, p, delete_token="t1")
        after = sorted(
            map(tuple, ivf_search_index(_queries(spark), p, nprobe=8,
                                        k=5).collect())
        )
        assert before == after
        with pytest.raises(ValueError, match="path-safe"):
            delete_from_ivf_index(dels, p, delete_token="a/b")

    def test_delete_applies_through_int8_rerank(self, spark, tmp_path):
        """The deleted row must not re-enter via the raw rerank table
        (which the caller may not have scrubbed)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path, cell_storage="int8")
        delete_from_ivf_index(
            spark.createDataFrame([(4,), (10,)], "vec_id long"), p
        )
        got = ivf_search_index(
            _queries(spark), p, nprobe=8, k=5, rerank=vecs,
            rerank_factor=8,
        )
        assert got.filter(F.col("match_id").isin(4, 10)).count() == 0
        assert got.filter(~F.col("exact")).count() == 0

    def test_compaction_applies_tombstones_physically(
        self, spark, tmp_path
    ):
        from datawaves_etl_airflow_spark.operators.similarity import (
            compact_ivf_index,
            delete_from_ivf_index,
        )
        from datawaves_etl_airflow_spark.sources.manifest import (
            VersionedManifest,
        )

        p, vecs = self._built(spark, tmp_path)
        n_all = vecs.count()
        deleted = vecs.filter(F.col("vec_id") % 5 == 0).select("vec_id")
        n_del = deleted.count()
        delete_from_ivf_index(deleted, p, delete_token="gdpr1")
        q = _queries(spark)
        before = sorted(
            map(tuple, ivf_search_index(q, p, nprobe=8, k=5).collect())
        )
        assert compact_ivf_index(spark, p) is True
        root = _data_root(spark, p)
        cells = spark.read.parquet(root + "/cells")
        # physically dropped, and the new version starts tombstone-free
        assert cells.count() == n_all - n_del
        assert not glob.glob(os.path.join(root, "tombstones", "*"))
        after = sorted(
            map(tuple, ivf_search_index(q, p, nprobe=8, k=5).collect())
        )
        assert before == after
        # the delete token is durable in its OWN namespace: a replay
        # after compaction must NOT re-tombstone (a later batch may
        # legitimately re-add ids), and an append token reusing the
        # same string must NOT be swallowed by the delete record
        _, payload = VersionedManifest(p).resolve(spark)
        assert "gdpr1" in payload["folded_deletes"]
        assert "gdpr1" not in payload["folded"]
        delete_from_ivf_index(deleted, p, delete_token="gdpr1")
        assert not glob.glob(os.path.join(root, "tombstones", "*"))

    def test_torn_tombstone_commit_refuses_compaction(
        self, spark, tmp_path
    ):
        """Probes skip a torn delete (replay heals it); compaction must
        refuse — folding while ignoring it would publish a base that
        silently resurrects the rows the delete meant to drop."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            compact_ivf_index,
            delete_from_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path)
        delete_from_ivf_index(
            spark.createDataFrame([(8,)], "vec_id long"), p,
            delete_token="torn",
        )
        root = _data_root(spark, p)
        os.remove(os.path.join(root, "tombstones", "batch=torn",
                               "_SUCCESS"))
        # probe unaffected: the torn tombstone is invisible
        got = ivf_search_index(_queries(spark), p, nprobe=8, k=5)
        assert got.count() > 0
        with pytest.raises(RuntimeError, match="torn delete"):
            compact_ivf_index(spark, p)

    def test_maintain_fires_on_tombstone_debt(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
            maintain_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path)
        delete_from_ivf_index(
            vecs.filter(F.col("vec_id") % 3 == 0).select("vec_id"), p
        )
        rep = maintain_ivf_index(spark, p, max_tombstone_ratio=0.2)
        assert rep["n_tombstones"] == 100
        assert rep["compacted"] is True
        rep2 = maintain_ivf_index(spark, p, max_tombstone_ratio=0.2)
        assert rep2["n_tombstones"] == 0
        assert rep2["compacted"] is False
        assert rep2["n_rows"] == 200

    def test_decontaminate_index_skips_deleted_rows(
        self, spark, tmp_path
    ):
        """Every reader goes through the one seam: a deleted corpus row
        must stop appearing in the contamination list too."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
            semantic_decontaminate_index,
        )

        p, vecs = self._built(spark, tmp_path)
        bench = vecs.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        flagged = semantic_decontaminate_index(
            bench, p, threshold=0.99, nprobe=8
        )
        assert flagged.filter(F.col("vec_id") == 1).count() == 1
        delete_from_ivf_index(
            spark.createDataFrame([(1,)], "vec_id long"), p
        )
        flagged2 = semantic_decontaminate_index(
            bench, p, threshold=0.99, nprobe=8
        )
        assert flagged2.filter(F.col("vec_id") == 1).count() == 0

    def test_missing_index_raises(self, spark, tmp_path):
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
        )

        with pytest.raises(ValueError, match="no IVF index"):
            delete_from_ivf_index(
                spark.createDataFrame([(1,)], "vec_id long"),
                str(tmp_path / "nope"),
            )

    def test_delete_and_append_token_namespaces_are_disjoint(
        self, spark, tmp_path
    ):
        """The collision that motivated folded_deletes: an append
        batch token compacted into `folded` must not swallow a later
        delete that reuses the string (the default streaming tokens
        of an add stream and a retraction stream collide by
        construction: both emit b0, b1, ...)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            append_ivf_index,
            brute_force_topk,
            compact_ivf_index,
            delete_from_ivf_index,
        )

        p = str(tmp_path / "ivfns")
        vecs = _vectors(spark)
        write_ivf_index(
            vecs.filter(F.col("vec_id") < 200), p, n_centroids=8,
            n_iters=1,
        )
        append_ivf_index(
            vecs.filter(F.col("vec_id") >= 200), p, batch_token="b0"
        )
        assert compact_ivf_index(spark, p) is True  # "b0" -> folded
        # a RETRACTION stream's batch 0 under checkpoint=None also
        # emits token "b0" — it must still tombstone
        delete_from_ivf_index(
            vecs.filter(F.col("vec_id") % 10 == 0).select("vec_id"),
            p,
            delete_token="b0",
        )
        got = ivf_search_index(_queries(spark), p, nprobe=8, k=5)
        want = brute_force_topk(
            vecs.filter(F.col("vec_id") % 10 != 0), _queries(spark), k=5
        )
        cols = ["query_id", "match_id", "rank", "cosine_sim"]
        assert got.select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(got.select(cols)).count() == 0

    def test_maintain_counts_distinct_tombstoned_ids(
        self, spark, tmp_path
    ):
        """A worklist replayed under fresh tokens re-writes the same
        ids: the debt watermark must count DISTINCT ids, not rows,
        or every tick fires a full-rewrite compaction that reclaims
        nothing."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            delete_from_ivf_index,
            maintain_ivf_index,
        )

        p, vecs = self._built(spark, tmp_path)
        dels = vecs.filter(F.col("vec_id") < 30).select("vec_id")
        delete_from_ivf_index(dels, p, delete_token="day1")
        delete_from_ivf_index(dels, p, delete_token="day2")
        rep = maintain_ivf_index(spark, p, max_tombstone_ratio=0.2)
        assert rep["n_tombstones"] == 30  # not 60
        assert rep["compacted"] is False  # 30/300 = 10% < 20%
