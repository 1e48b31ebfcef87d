"""Empty/degenerate inputs for the r4 index + export operators: cold
starts must work (an empty index is a valid day-0 state), and empty
batches must be no-ops, not crashes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators.dedup import (
    append_minhash_index,
    dedup_against_index,
    duplicate_clusters_star,
    write_minhash_index,
)
from datawaves_etl_airflow_spark.operators.sampling import shuffle_shards
from datawaves_etl_airflow_spark.operators.similarity import (
    ivf_search_index,
    write_ivf_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestEmptyIndexInputs:
    def test_cold_start_empty_index_then_probe_and_grow(
        self, spark, tmp_path
    ):
        """Day-0: index built from ZERO docs; first batch self-dedups
        only, appends, and the second batch sees it."""
        p = str(tmp_path / "idx")
        write_minhash_index(_docs(spark, []), p)
        b1 = _docs(spark, [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ])
        pairs = dedup_against_index(b1, p, threshold=0.5)
        assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
        append_minhash_index(_docs(spark, [b1.collect()[0][:2]]), p)
        b2 = _docs(spark, [
            (3, "alpha beta gamma delta epsilon zeta eta theta!")
        ])
        got = dedup_against_index(b2, p, threshold=0.5)
        assert {(r.id_a, r.id_b) for r in got.collect()} == {(3, 1)}

    def test_empty_probe_batch(self, spark, tmp_path):
        p = str(tmp_path / "idx")
        write_minhash_index(
            _docs(spark, [(1, "some corpus text here with words")]), p
        )
        assert dedup_against_index(_docs(spark, []), p).count() == 0

    def test_star_cc_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert duplicate_clusters_star(pairs).count() == 0

    def test_shuffle_shards_empty(self, spark):
        out = shuffle_shards(_docs(spark, []), n_shards=4)
        assert out.count() == 0
        assert "shard_id" in out.columns


class TestDegenerateIvf:
    def test_fewer_vectors_than_centroids(self, spark, tmp_path):
        """n < n_centroids: the quantizer seeds from what exists; the
        probe still returns exact results."""
        vecs = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
            "vec_id long, embedding array<double>",
        )
        p = str(tmp_path / "ivf")
        write_ivf_index(vecs, p, n_centroids=8, n_iters=1)
        q = spark.createDataFrame(
            [(0, [1.0, 0.1])], "query_id long, query_vec array<double>"
        )
        got = ivf_search_index(q, p, nprobe=8, k=2).collect()
        assert [r["match_id"] for r in got] == [1, 3]


class TestNullAndEmptyCorpora:
    def test_every_assignment_entry_point(self, spark, tmp_path):
        """A corpus with NULL embeddings, an empty corpus and an
        all-NULL corpus through every caller of the cell-assignment
        kernel: the trainers, semantic_dedup (flat and two-level),
        cell_outliers, ivf_topk (flat and two-level), write_ivf_index,
        append_ivf_index, maintain_ivf_index and the streaming semantic
        ingest. NULL rows never become centroids, get a NULL cell and
        are never matched; an index built from zero rows has no cell
        files to read back, so the empty corpus stops at the build and
        the append."""
        import os

        from datawaves_etl_airflow_spark.operators import similarity as S
        from datawaves_etl_airflow_spark.streaming.ingest import (
            make_semantic_ingest,
        )

        corpora = {
            "nulls": [
                (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
                (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.9, 0.1]),
                (5, [0.0, 0.0, 1.0]), (6, [0.1, 0.0, 0.9]),
                (7, None), (8, None),
            ],
            "empty": [],
            "all_null": [(1, None), (2, None)],
        }
        q = spark.createDataFrame(
            [(0, [1.0, 0.05, 0.0])], "query_id long, query_vec array<double>"
        )
        protos = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
            "centroid_id int, centroid array<double>",
        )
        for name, rows in corpora.items():
            c = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
            ids = {vid for vid, _ in rows}
            null_ids = {vid for vid, v in rows if v is None}
            live_ids = ids - null_ids

            cents = S.train_centroids(c, 2, n_iters=1).collect()
            assert len(cents) <= min(2, len(live_ids)), name
            assert all(r.centroid is not None for r in cents), name
            coarse, fine = S.train_centroids_2level(c, 2, 2, n_iters=1)
            assert all(r.centroid is not None for r in fine.collect()), name

            for kw in ({}, {"centroids": fine, "coarse_centroids": coarse}):
                d = {
                    r.vec_id: (r.sem_cluster_id, r.kept)
                    for r in S.semantic_dedup(
                        c, 2, threshold=0.95, n_iters=1,
                        keep="far_from_centroid", **kw
                    ).collect()
                }
                assert set(d) == ids, name
                assert all(d[i] == (i, True) for i in null_ids), name

            out = {
                r.vec_id: (r.centroid_id, r.centroid_sim, r.is_outlier)
                for r in S.cell_outliers(c, protos, 0.5).collect()
            }
            assert set(out) == ids, name
            assert all(out[i] == (None, None, True) for i in null_ids), name

            for kw in ({}, {"n_fine": 2}):
                got = S.ivf_topk(c, q, n_centroids=2, nprobe=4, k=10, n_iters=1, **kw)
                assert {r.match_id for r in got.collect()} == live_ids, name

            p = str(tmp_path / f"ivf_{name}")
            S.write_ivf_index(c, p, n_centroids=2, n_iters=1)
            S.append_ivf_index(
                c.select((F.col("vec_id") + 100).alias("vec_id"), "embedding"),
                p,
                batch_token="b1",
            )
            if name == "empty":
                continue
            got = S.ivf_search_index(q, p, nprobe=2, k=20)
            assert {r.match_id for r in got.collect()} == live_ids | {
                i + 100 for i in live_ids
            }, name
            rep = S.maintain_ivf_index(spark, p)
            assert rep["n_rows"] == 2 * len(rows), name
            acc = str(tmp_path / f"acc_{name}")
            make_semantic_ingest(p, acc, threshold=0.95)(
                c.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding"),
                0,
            )
            accepted = {
                r.vec_id for r in spark.read.parquet(os.path.join(acc, "docs")).collect()
            }
            # NULL rows are unscorable, never duplicates: always accepted
            assert {i + 1000 for i in null_ids} <= accepted, name
