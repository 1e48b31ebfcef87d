"""semantic_dedup (SemDeDup-style cluster-bucketed dedup): planted
duplicates drop, non-duplicates survive, both keep policies are
deterministic, the skew valve bounds a degenerate cell, and the
decision table always covers every input row exactly once.

Fixture rule: duplicate-group members are EXACT copies, so they land
in the same k-means cell under ANY seeding (identical vectors score
identically against every centroid and ties break identically) —
the in-call training tests stay robust to hash-order seed choice.
The one geometry-sensitive test (far_from_centroid on perturbed
members) supplies explicit centroids instead; cross-cell recall loss
for straddling near-dups is SemDeDup's documented trade, not a bug
this suite should encode a hash accident around.
"""

from __future__ import annotations

import pytest

from datawaves_etl_airflow_spark.operators.similarity import semantic_dedup

# groups A {1, 2, 3} and B {10, 11} are exact copies within the group;
# 20 and 21 are lone singletons on their own axes.
ROWS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [1.0, 0.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0, 0.0]),
    (10, [0.0, 1.0, 0.0, 0.0]),
    (11, [0.0, 1.0, 0.0, 0.0]),
    (20, [0.0, 0.0, 1.0, 0.0]),
    (21, [0.0, 0.0, 0.0, 1.0]),
]
SCHEMA = "vec_id long, embedding array<float>"

AXIS_CENTROIDS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.0, 0.0, 0.0, 1.0]),
]
CENTROID_SCHEMA = "centroid_id int, centroid array<double>"


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, SCHEMA)


def _decisions(df):
    return {
        r["vec_id"]: (r["sem_cluster_id"], r["kept"]) for r in df.collect()
    }


class TestKeepMinId:
    def test_groups_drop_to_min_id(self, spark):
        out = semantic_dedup(
            _df(spark), n_centroids=4, threshold=0.999, n_iters=2
        )
        d = _decisions(out)
        assert len(d) == len(ROWS)  # one decision per input row
        assert d[1] == (1, True)
        assert d[2] == (1, False)
        assert d[3] == (1, False)
        assert d[10] == (10, True)
        assert d[11] == (10, False)
        # singletons are their own group and always kept
        assert d[20] == (20, True)
        assert d[21] == (21, True)

    def test_orthogonal_rows_never_pair(self, spark):
        # even at a loose threshold the orthogonal singletons (cos 0)
        # cannot join a group, whatever cell they share
        d = _decisions(
            semantic_dedup(_df(spark), n_centroids=2, threshold=0.5)
        )
        assert d[20] == (20, True)
        assert d[21] == (21, True)
        assert not d[2][1] and not d[11][1]

    def test_deterministic_across_runs(self, spark):
        a = _decisions(
            semantic_dedup(_df(spark), n_centroids=4, threshold=0.999)
        )
        b = _decisions(
            semantic_dedup(_df(spark), n_centroids=4, threshold=0.999)
        )
        assert a == b


class TestKeepFarFromCentroid:
    # perturbed geometry + explicit centroids: members of A/B differ
    # in their similarity to the cell centroid, so the policy choice
    # is observable (exact copies would tie straight back to min_id)
    PERTURBED = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.001, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.001, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),
    ]

    def test_keeps_least_central_member(self, spark):
        cents = spark.createDataFrame(AXIS_CENTROIDS, CENTROID_SCHEMA)
        out = semantic_dedup(
            _df(spark, self.PERTURBED),
            n_centroids=4,
            threshold=0.999,
            keep="far_from_centroid",
            centroids=cents,
        )
        d = _decisions(out)
        # group A: id 1 sits ON the centroid (cos 1), ids 2 and 3 are
        # equally off-axis — least-central wins, ties on smaller id
        assert [i for i in (1, 2, 3) if d[i][1]] == [2]
        assert d[1][0] == d[2][0] == d[3][0] == 1
        # group B: 11 is the off-axis member and must be the survivor
        assert [i for i in (10, 11) if d[i][1]] == [11]
        assert d[20] == (20, True)

    def test_exact_copies_tie_back_to_min_id(self, spark):
        d = _decisions(
            semantic_dedup(
                _df(spark),
                n_centroids=4,
                threshold=0.999,
                keep="far_from_centroid",
            )
        )
        assert d[1][1] and not d[2][1] and not d[3][1]

    def test_unknown_policy_raises(self, spark):
        with pytest.raises(ValueError, match="keep policy"):
            semantic_dedup(_df(spark), n_centroids=2, keep="newest")


class TestEdgeCases:
    def test_null_vector_passes_through_kept(self, spark):
        rows = ROWS + [(99, None)]
        out = semantic_dedup(
            _df(spark, rows), n_centroids=4, threshold=0.999
        )
        d = _decisions(out)
        assert d[99] == (99, True)
        assert len(d) == len(rows)

    def test_zero_vector_is_kept_singleton(self, spark):
        rows = ROWS + [(98, [0.0, 0.0, 0.0, 0.0])]
        d = _decisions(
            semantic_dedup(_df(spark, rows), n_centroids=4, threshold=0.5)
        )
        assert d[98] == (98, True)

    def test_skew_valve_bounds_degenerate_cell(self, spark):
        # a failed embedding job: 60 identical vectors + the normal
        # corpus. Uncapped, the degenerate cell alone is 60^2/2 pairs;
        # with the valve its rows skip the pair join and surface as
        # kept singletons (the documented exact-dedup handoff), while
        # dedup still works in the healthy cells.
        degenerate = [(1000 + i, [0.5, 0.5, 0.5, 0.5]) for i in range(60)]
        rows = ROWS + degenerate
        out = semantic_dedup(
            _df(spark, rows),
            n_centroids=5,
            threshold=0.999,
            max_cell_size=10,
        )
        d = _decisions(out)
        assert all(d[1000 + i] == (1000 + i, True) for i in range(60))
        assert len(d) == len(rows)

    def test_reused_centroids_skip_training(self, spark):
        # a caller-supplied quantizer (e.g. the persisted IVF one)
        # must drive the same decisions as an in-call training run
        # when it matches the data geometry
        cents = spark.createDataFrame(AXIS_CENTROIDS, CENTROID_SCHEMA)
        d = _decisions(
            semantic_dedup(
                _df(spark), n_centroids=4, threshold=0.999, centroids=cents
            )
        )
        assert d[2] == (1, False) and d[10] == (10, True)
        assert d[21] == (21, True)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_base_rows = st.lists(
    st.tuples(
        st.integers(0, 400),
        st.tuples(*(st.integers(-3, 3) for _ in range(4))),
    ),
    min_size=2,
    max_size=18,
    unique_by=lambda t: t[0],
)


class TestSemanticDedupProperties:
    """Invariants on randomized corpora with planted exact clones:
    coverage (one decision per row), exactly one kept per group,
    min-id representative, and clone-joins-source group membership —
    whatever merges the random geometry additionally produces."""

    @settings(max_examples=8, deadline=None)
    @given(rows=_base_rows, data=st.data())
    def test_invariants_with_planted_clones(self, spark, rows, data):
        n_clones = data.draw(
            st.integers(0, min(4, len(rows))), label="n_clones"
        )
        clones = [
            (1000 + i, rows[i][1]) for i in range(n_clones)
        ]  # ids 1000+ never collide with base ids (<= 400)
        all_rows = [
            (i, [float(x) for x in v]) for i, v in rows + clones
        ]
        df = spark.createDataFrame(all_rows, SCHEMA)
        out = semantic_dedup(
            df, n_centroids=3, threshold=0.9999, n_iters=1
        ).collect()
        ids = {r["vec_id"] for r in out}
        assert ids == {i for i, _ in all_rows}
        assert len(out) == len(all_rows)
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r["sem_cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            kept = [m["vec_id"] for m in members if m["kept"]]
            # exactly one survivor per group, and it is the min id,
            # which is also the cluster label
            assert kept == [cid]
            assert cid == min(m["vec_id"] for m in members)
        # each clone co-assigns with its source (identical vector ->
        # identical cell under any seeding) and pairs at cos ~= 1, so
        # they must land in the same duplicate group. Zero vectors are
        # the documented exception: cosine(0, x) is undefined so the
        # operator keeps them as singletons — an all-zero clone does
        # NOT join its all-zero source.
        decisions = {r["vec_id"]: r["sem_cluster_id"] for r in out}
        for i in range(n_clones):
            src_id, src_vec = rows[i]
            if not any(src_vec):
                continue
            assert decisions[1000 + i] == decisions[src_id]


class TestIvfDiverseQueryNonVacuous:
    def test_both_branches_and_both_keep_outcomes_occur(self, spark):
        """llm_semantic_dedup_ivf_diverse's oracle asserts two
        booleans per planted pair; this pins that the booleans are
        NOT vacuous at sf0.001 — the paired branch fires for most
        groups, and among paired groups BOTH far-from-centroid keep
        outcomes occur (some groups keep the perturbed copy, the
        member pushed AWAY from its prototype). Also re-asserts every
        row is TRUE/TRUE, the driver contract."""
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.queries import llm

        out = llm.llm_semantic_dedup_ivf_diverse(
            spark, "/root/testdata/sf0.001"
        )
        rows = out.collect()
        assert rows and all(
            r["rule_ok"] and r["grouping_ok"] for r in rows
        )
        # rebuild the decision table to count branches: rerun the
        # composition and look at observed keeps directly
        import shutil
        import tempfile

        from datawaves_etl_airflow_spark.operators import similarity

        embs = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .select("vec_id", "embedding")
        )
        corpus = llm._planted_neardup_corpus(spark, "/root/testdata/sf0.001")
        idx = tempfile.mkdtemp(prefix="ivfd_pin_")
        try:
            similarity.write_ivf_index(embs, idx, n_centroids=16, n_iters=1)
            cents = similarity.read_ivf_centroids(spark, idx)
            d = similarity.semantic_dedup(
                corpus,
                n_centroids=16,
                threshold=0.95,
                keep="far_from_centroid",
                centroids=cents,
            ).localCheckpoint()
        finally:
            shutil.rmtree(idx, ignore_errors=True)
        src = d.filter(F.col("vec_id") < 100000).select(
            "vec_id", F.col("kept").alias("s_kept")
        )
        cp = d.filter(F.col("vec_id") >= 100000).select(
            (F.col("vec_id") - F.lit(100000)).alias("vec_id"),
            F.col("kept").alias("c_kept"),
        )
        j = src.join(cp, "vec_id")
        paired = j.filter(F.col("s_kept") != F.col("c_kept"))
        n_pairs = paired.count()
        assert n_pairs > 0  # the paired branch fires
        kept_src = paired.filter(F.col("s_kept")).count()
        # both keep outcomes occur — the diversity rule is exercised,
        # not collapsed to the tie rule
        assert 0 < kept_src < n_pairs


def _py_argmax(v, table):
    """Plain-Python reference of the assignment rule over
    ``(id, vector)`` rows: cosine ``dot / (|v|·|c|)`` (0 where a norm
    is 0), ties to the smaller id, NULL ids/vectors never win, NULL
    vector or empty table → ``(None, None)``."""
    import math

    live = [(i, c) for i, c in table if i is not None and c is not None]
    if v is None or not live:
        return None, None

    def sim(c):
        den = math.sqrt(sum(x * x for x in v)) * math.sqrt(
            sum(x * x for x in c)
        )
        return sum(x * y for x, y in zip(v, c)) / den if den > 0 else 0.0

    cid, c = max(sorted(live), key=lambda t: (sim(t[1]), -t[0]))
    return cid, sim(c)


#: (name, vectors, centroids, coarse) — coarse None is the flat rule;
#: otherwise centroids are (id, coarse_id, vector) fine rows. Small
#: dyadic coordinates keep every tie exact in both implementations.
_KERNEL_CASES = [
    (
        "ties_go_to_smaller_id",
        [(1, [1.0, 1.0]), (2, [2.0, 0.0]), (3, [0.0, 4.0])],
        # 5 and 2 are the same vector; 7 is parallel to 1 at twice the
        # length; 1 and 4 tie against row 1 at 45°
        [(5, [1.0, 0.0]), (2, [1.0, 0.0]), (7, [0.0, 2.0]),
         (4, [0.0, 1.0])],
        None,
    ),
    (
        "null_and_zero_vectors",
        [(1, None), (2, [0.0, 0.0]), (3, [0.5, 0.25])],
        [(3, [1.0, 0.0]), (1, [0.0, 1.0])],
        None,
    ),
    (
        "null_centroid_rows_never_win",
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        [(0, None), (None, [1.0, 0.0]), (6, [0.0, 1.0]), (9, [1.0, 0.5])],
        None,
    ),
    ("empty_centroid_set", [(1, [1.0, 0.0]), (2, None)], [], None),
    ("all_null_centroids", [(1, [1.0, 0.0])], [(1, None), (2, None)], None),
    (
        "two_level",
        # row 3's best fine centroid overall (id 22) sits in coarse
        # cell 2, but its coarse winner is cell 1: it must take 12
        [(1, [1.0, 0.25]), (2, [0.25, 1.0]), (3, [1.0, 0.75]),
         (4, [0.0, 0.0]), (5, None), (6, [-1.0, 0.0])],
        [(11, 1, [1.0, 0.0]), (12, 1, [1.0, 0.125]),
         (22, 2, [1.0, 0.75]), (21, 2, [0.0, 1.0])],
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
    ),
]


class TestAssignCellsKernel:
    def test_matches_python_argmax_table(self, spark):
        """The one assignment kernel against a plain-Python argmax, flat
        and two-level, on ties, NULL and zero vectors, NULL centroid
        rows and empty or all-NULL centroid sets (coarse cell 3 of the
        two-level case has no fine rows: row 6 gets a NULL cell)."""
        from datawaves_etl_airflow_spark.operators.similarity import (
            _assign_cells,
        )

        for name, vecs, cents, coarse in _KERNEL_CASES:
            norm = spark.createDataFrame(
                vecs, "_vid long, _v array<double>"
            )
            if coarse is None:
                fine_df = spark.createDataFrame(
                    cents, "centroid_id int, centroid array<double>"
                )
                coarse_df = None
            else:
                fine_df = spark.createDataFrame(
                    cents,
                    "centroid_id int, coarse_id int, centroid array<double>",
                )
                coarse_df = spark.createDataFrame(
                    coarse, "centroid_id int, centroid array<double>"
                )
            out = _assign_cells(norm, "_v", fine_df, coarse_df)
            assert out.columns == ["_vid", "_v", "centroid_id", "_csim"]
            got = {r["_vid"]: (r["centroid_id"], r["_csim"]) for r in out.collect()}
            assert set(got) == {vid for vid, _ in vecs}, name
            for vid, v in vecs:
                if coarse is None:
                    want = _py_argmax(v, cents)
                else:
                    c1, _ = _py_argmax(v, coarse)
                    want = _py_argmax(
                        v, [(i, c) for i, cc, c in cents if cc == c1]
                    )
                cid, sim = got[vid]
                assert cid == want[0], (name, vid, got[vid], want)
                if want[1] is None:
                    assert sim is None, (name, vid)
                else:
                    assert sim == pytest.approx(want[1], abs=1e-12), (name, vid)
            if coarse is not None:
                # non-vacuous: the flat argmax over all fine rows differs
                flat, _ = _py_argmax(dict(vecs)[3], [(i, c) for i, _, c in cents])
                assert got[3][0] == 12 and flat == 22


class TestPairStage:
    """The SemDeDup pair stage (one grouped Arrow pass with per-cell
    BLAS Gram blocks) and its max_cell_size valve, pinned on the
    sf0.001 fixture corpus against the expression self-join it
    replaced — pair SET equality, not just end-state booleans."""

    def _fixture_assigned(self, spark):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators import similarity

        embs = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", "embedding")
        corpus = embs.unionByName(
            embs.select(
                (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
                "embedding",
            )
        )
        norm = corpus.select(
            F.col("vec_id").alias("_vid"),
            similarity.l2_normalize(F.col("embedding")).alias("_v"),
        )
        cents = similarity.train_centroids(corpus, 8, n_iters=1)
        cents = spark.createDataFrame(cents.collect(), cents.schema)
        return similarity._assign_cells(norm, "_v", cents)

    def test_blas_pairs_equal_expression_join_pairs(self, spark):
        from pyspark.sql import functions as F

        from datawaves_etl_airflow_spark.operators import similarity
        from datawaves_etl_airflow_spark.operators.similarity import dot

        assigned = self._fixture_assigned(spark)
        for threshold in (0.95, 0.999):
            blas = {
                (r["id_a"], r["id_b"])
                for r in similarity._cell_pairs_blas(
                    assigned, threshold, None
                ).collect()
            }
            a = assigned.select(
                "centroid_id",
                F.col("_vid").alias("id_a"),
                F.col("_v").alias("va"),
            )
            b = assigned.select(
                "centroid_id",
                F.col("_vid").alias("id_b"),
                F.col("_v").alias("vb"),
            )
            expr = {
                (r["id_a"], r["id_b"])
                for r in a.join(b, "centroid_id")
                .filter(F.col("id_a") < F.col("id_b"))
                .filter(dot(F.col("va"), F.col("vb")) >= threshold)
                .select("id_a", "id_b")
                .collect()
            }
            assert blas == expr and len(blas) > 0

    def test_blas_cell_cap_matches_windowed_exclusion(self, spark):
        """max_cell_size must reproduce the windowed-count exclusion:
        an over-cap cell emits no pairs, under-cap cells are
        untouched."""
        from datawaves_etl_airflow_spark.operators import similarity

        assigned = self._fixture_assigned(spark)
        counts = {
            r["centroid_id"]: r["count"]
            for r in assigned.groupBy("centroid_id").count().collect()
        }
        cap = sorted(counts.values())[len(counts) // 2]  # median size
        capped = similarity._cell_pairs_blas(assigned, 0.95, cap)
        cells = {
            r["_vid"]: r["centroid_id"]
            for r in assigned.select("_vid", "centroid_id").collect()
        }
        over = {c for c, n in counts.items() if n > cap}
        for r in capped.collect():
            assert cells[r["id_a"]] not in over
        # uncapped minus pairs-from-over-cap-cells == capped
        uncapped = similarity._cell_pairs_blas(assigned, 0.95, None)
        want = {
            (r["id_a"], r["id_b"])
            for r in uncapped.collect()
            if cells[r["id_a"]] not in over
        }
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert got == want
