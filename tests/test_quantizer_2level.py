"""Two-level (coarse→fine) quantizer: hierarchical training shapes,
assignment equivalence to the brute two-stage argmax, NULL/empty-cell
contracts, semantic_dedup integration, and the zero-corpus-shuffle
plan. The inverted-multi-index assignment path exists because flat
assignment against k cells is O(n·k) dots and the SemDeDup regime
scales k with the corpus — two balanced levels cost O(n·2√k).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def _dot(a, b):
    return sum(x * y for x, y in zip(a, b))


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def quantizer(vecs):
    return S.train_centroids_2level(vecs, n_coarse=3, n_fine=4, n_iters=2)


class TestTrain2Level:
    def test_shapes_ids_and_norms(self, quantizer):
        coarse, fine = quantizer
        cc, cf = coarse.collect(), fine.collect()
        assert len(cc) == 3
        # 3 cells × up to 4 fine each; sf0.001 cells are all populated
        assert 3 <= len(cf) <= 12
        # global ids unique and the coarse_id arithmetic inverts them
        assert len({r.centroid_id for r in cf}) == len(cf)
        assert all(
            (r.centroid_id - 1) // 4 + 1 == r.coarse_id for r in cf
        )
        assert {r.coarse_id for r in cf} <= {r.centroid_id for r in cc}
        for r in cf:
            assert abs(math.sqrt(_dot(r.centroid, r.centroid)) - 1) < 1e-9

    def test_deterministic(self, vecs, quantizer):
        _, fine = quantizer
        _, fine2 = S.train_centroids_2level(
            vecs, n_coarse=3, n_fine=4, n_iters=2
        )
        a = {(r.centroid_id, tuple(r.centroid)) for r in fine.collect()}
        b = {(r.centroid_id, tuple(r.centroid)) for r in fine2.collect()}
        assert a == b


class TestAssign2Level:
    def test_matches_brute_two_stage_argmax(self, vecs, quantizer):
        coarse, fine = quantizer
        norm = vecs.select(
            F.col("vec_id").alias("_vid"),
            S.l2_normalize(F.col("embedding")).alias("_v"),
        )
        got = {
            r._vid: r.centroid_id
            for r in S._assign_cells(
                norm, "_v", fine, coarse
            ).collect()
        }
        nv = {r._vid: r._v for r in norm.collect()}
        co = {r.centroid_id: r.centroid for r in coarse.collect()}
        fi: dict[int, list] = {}
        for r in fine.collect():
            fi.setdefault(r.coarse_id, []).append(
                (r.centroid_id, r.centroid)
            )
        for vid, v in nv.items():
            c1 = max(sorted(co), key=lambda c: (_dot(v, co[c]), -c))
            exp = max(
                sorted(fi[c1]), key=lambda t: (_dot(v, t[1]), -t[0])
            )[0]
            assert got[vid] == exp

    def test_null_vector_gets_null_cell(self, spark, quantizer):
        coarse, fine = quantizer
        norm = spark.createDataFrame(
            [(1, [1.0] * 64), (2, None)],
            "_vid long, _v array<double>",
        )
        rows = {
            r._vid: r.centroid_id
            for r in S._assign_cells(
                norm, "_v", fine, coarse
            ).collect()
        }
        assert rows[2] is None
        assert rows[1] is not None

    def test_coarse_cell_without_fine_is_null_cell(self, spark):
        """A hand-built fine table covering only coarse cell 1: rows
        whose coarse winner is cell 2 get NULL (the kept-singleton
        contract), never a fine centroid from another cell."""
        coarse = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "centroid_id int, centroid array<double>",
        )
        fine = spark.createDataFrame(
            [(1, 1, [1.0, 0.0])],
            "centroid_id int, coarse_id int, centroid array<double>",
        )
        norm = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.1, 0.9])],
            "_vid long, _v array<double>",
        )
        rows = {
            r._vid: r.centroid_id
            for r in S._assign_cells(
                norm, "_v", fine, coarse
            ).collect()
        }
        assert rows[1] == 1
        assert rows[2] is None


class TestSemanticDedup2Level:
    def test_planted_exact_copies_dedup(self, vecs, quantizer):
        coarse, fine = quantizer
        corpus = vecs.unionByName(
            vecs.select(
                (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
                "embedding",
            )
        )
        d = S.semantic_dedup(
            corpus,
            n_centroids=12,
            threshold=0.999,
            centroids=fine,
            coarse_centroids=coarse,
        )
        src = d.filter("vec_id < 100000").selectExpr(
            "vec_id", "kept AS k1", "sem_cluster_id AS c1"
        )
        cp = d.filter("vec_id >= 100000").selectExpr(
            "vec_id - 100000 AS vec_id", "kept AS k2",
            "sem_cluster_id AS c2",
        )
        j = src.join(cp, "vec_id")
        n = j.count()
        assert n == vecs.count()
        assert (
            j.filter("k1 AND NOT k2 AND c1 = vec_id AND c2 = vec_id")
            .count()
            == n
        )

    def test_singleton_contract_for_uncovered_cell(self, spark):
        """Corpus rows stranded in a fine-less coarse cell surface as
        kept singletons — same as NULL vectors."""
        coarse = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "centroid_id int, centroid array<double>",
        )
        fine = spark.createDataFrame(
            [(1, 1, [1.0, 0.0])],
            "centroid_id int, coarse_id int, centroid array<double>",
        )
        corpus = spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.9, 0.1]), (3, [0.1, 0.9]),
             (4, [0.1, 0.9])],
            "vec_id long, embedding array<float>",
        )
        d = {
            r.vec_id: (r.sem_cluster_id, r.kept)
            for r in S.semantic_dedup(
                corpus, n_centroids=1, threshold=0.95,
                centroids=fine, coarse_centroids=coarse,
            ).collect()
        }
        # 1 and 2 co-assign to fine cell 1 and dedup
        assert d[1] == (1, True) and d[2] == (1, False)
        # 3 and 4 land in the fine-less coarse cell 2: kept singletons
        # even though they are mutual near-dups
        assert d[3] == (3, True) and d[4] == (4, True)

    def test_coarse_without_fine_table_raises(self, spark, vecs):
        coarse = spark.createDataFrame(
            [(1, [1.0, 0.0])], "centroid_id int, centroid array<double>"
        )
        with pytest.raises(ValueError, match="coarse_centroids"):
            S.semantic_dedup(
                vecs, n_centroids=4, coarse_centroids=coarse
            )


class TestAssign2LevelPlan:
    def test_corpus_never_shuffles(self, vecs, quantizer):
        """Both argmax stages run map-side in one Arrow pass over the
        corpus: the centroid tables are collected up front, so the
        plan has no exchange and no join at all."""
        coarse, fine = quantizer
        norm = vecs.select(
            F.col("vec_id").alias("_vid"),
            S.l2_normalize(F.col("embedding")).alias("_v"),
        )
        a = S._assign_cells(norm, "_v", fine, coarse)
        p = a._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p
        assert "Join" not in p
        assert "MapInPandas" in p


class TestFarFromCentroid2Level:
    def test_keep_policy_composes_with_hierarchical_assignment(
        self, spark
    ):
        """`keep="far_from_centroid"` × the two-level quantizer (the
        last keep-policy/quantizer combination without a pin): planted
        exact copies co-assign under the hierarchical argmax too, so
        each group is {source, copy} with IDENTICAL centroid
        similarity — the far rule degenerates to its id tiebreak and
        must keep the SOURCE, while singletons stay kept. The
        centroid-similarity join runs against the FINE table (which
        carries the extra coarse_id column — the join must tolerate
        it)."""
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 1.0]),
        ]
        corpus = spark.createDataFrame(
            rows + [(i + 100, v) for i, v in rows[:2]],
            "vec_id long, embedding array<double>",
        )
        coarse, fine = S.train_centroids_2level(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            n_coarse=2,
            n_fine=2,
            n_iters=1,
        )
        d = S.semantic_dedup(
            corpus,
            n_centroids=4,
            threshold=0.999,
            keep="far_from_centroid",
            centroids=fine,
            coarse_centroids=coarse,
        )
        got = {r["vec_id"]: (r["kept"], r["sem_cluster_id"]) for r in d.collect()}
        assert got[1] == (True, 1) and got[101] == (False, 1)
        assert got[2] == (True, 2) and got[102] == (False, 2)
        assert got[3] == (True, 3) and got[4] == (True, 4)
