"""Global physical-plan invariants over EVERY registered driver query
(the sweeping form of test_plans.py's per-query pins): at sf0.001,
no registered plan may contain

- a CartesianProduct or BroadcastNestedLoopJoin (the all-pairs shapes
  this engine exists to avoid — the exact all-pairs forms live only in
  DuckDB oracles and test baselines, never in a registered plan);
- a row-at-a-time Python UDF (BatchEvalPython): the only sanctioned
  Python surfaces are Arrow-batched (ArrowEvalPython / mapInPandas),
  per the brief's UDF policy.

Queries that execute eagerly at build time (iterative CC, the
incremental index round-trip) still end in a final DataFrame whose
plan these invariants cover.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = [
    "CartesianProduct",
    "BatchEvalPython",
]

#: BroadcastNestedLoopJoin is allowed ONLY where the broadcast side is
#: a bounded-tiny relation — the sanctioned crossJoin-against-broadcast
#: patterns SCALE.md documents. EXACT whitelist: a new query acquiring
#: a nested loop (or one of these losing its reason) must fail here.
ALLOWED_BNLJ = {
    "d_verify_root_traces": "two 1-row count aggregates compared",
    "llm_ann_ivf": "corpus x broadcast centroid set (<= n_centroids rows)",
    "llm_tfidf_keywords": "broadcast 1-row corpus-size aggregate",
    "llm_unigram_logprob": "broadcast 1-row corpus-size aggregate",
    # registered by the round-5 rotation (previously parity-only):
    "llm_cosine_topk": "corpus x broadcast 10-row query set (vec_id<10 "
    "filter) — the documented brute-force ANN baseline",
    "llm_knn_label_eval": "corpus x bounded 40-row leave-one-out query "
    "set — same brute-force baseline shape as llm_cosine_topk",
    "x2_above_global_avg": "broadcast 1-row global-average aggregate "
    "(scalar subquery)",
    # registered by the round-6 rotation (new operators):
    "llm_temperature_sample": "broadcast 1-row total-weight aggregate "
    "(sum over the per-source counts, <= n_sources rows upstream)",
    # registered by the round-7 rotation (new operators):
    "llm_semantic_dedup_diverse": "corpus x broadcast 4-row explicit "
    "prototype set (cell assignment; the far_from_centroid "
    "centroid-sim join keeps the assignment lineage in the final "
    "plan, unlike min_id which truncates at the CC checkpoint)",
    # r9 post-rotation additions (take effect when the r10 rotation
    # registers them — the whitelist is only consulted for registered
    # names; plans verified at sf0.001 on 2026-08-15):
    "llm_bm25_topk": "broadcast 1-row (N, avgdl) corpus-stats "
    "aggregate — the tfidf/unigram pattern",
    "llm_hybrid_retrieval": "two sanctioned legs: bm25's 1-row stats "
    "broadcast + brute_force_topk's corpus x broadcast 5-row query "
    "set (the documented exact-ANN baseline shape)",
    "llm_semantic_decontaminate": "corpus x broadcast 1-row benchmark "
    "array aggregate (collect_list over the 10-row benchmark set) — "
    "a zero-shuffle map-side argmax",
    # r10 post-rotation additions, first registered by the r11
    # rotation (same inherited bm25 stats-broadcast shape):
    "llm_bm25_prf": "bm25's broadcast 1-row (N, avgdl) corpus-stats "
    "aggregate, in BOTH PRF passes + the feedback-term mining's "
    "1-row N broadcast",
    "llm_retrieval_metrics": "bm25_topk's broadcast 1-row (N, avgdl) "
    "corpus-stats aggregate — inherited through the ranked-results "
    "pass; the qrels joins are query-keyed hash joins",
    # r11 additions:
    "llm_mixture_execute": "broadcast 1-row total-weight aggregate "
    "in the shared _temperature_quotas math — the whitelisted "
    "llm_temperature_sample shape, inherited",
    "llm_corpus_stats": "1-row global aggregate x broadcast 1-row "
    "per-dimension aggregates (distinct count + modal value per "
    "group column) — every side is a single row by construction",
    "llm_hard_negatives": "bm25_topk's broadcast 1-row (N, avgdl) "
    "corpus-stats aggregate — the llm_bm25_topk pattern inherited "
    "through the retrieval pass; the qrels anti-join itself is a "
    "broadcast HASH join",
    # r12 additions:
    "llm_prf_vs_bm25_eval": "bm25's broadcast 1-row (N, avgdl) "
    "corpus-stats aggregate inherited through BOTH ranking legs "
    "(plain + both PRF passes and the feedback mining's 1-row N) — "
    "the llm_bm25_prf + llm_retrieval_metrics shapes composed",
    "llm_bigram_logprob": "broadcast 1-row LM-token-total aggregate "
    "(text.py:1020 crossJoin(broadcast(total))) — the whitelisted "
    "llm_unigram_logprob corpus-size-aggregate shape, inherited",
    # r13 queue (takes effect when the r13 rotation registers it):
    "llm_contrastive_pairs": "bm25_topk's broadcast 1-row (N, avgdl) "
    "corpus-stats aggregate — llm_hard_negatives' whitelisted shape "
    "inherited through the mining pass; the positives join itself is "
    "a query-keyed hash join",
}


def _registered():
    import __spark_entry__ as e

    return sorted(e.queries().items())


@pytest.mark.parametrize(
    "name,fn", _registered(), ids=[n for n, _ in _registered()]
)
def test_no_products_no_row_python(spark, name, fn):
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name}: {bad} in physical plan"
    if name not in ALLOWED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unsanctioned BroadcastNestedLoopJoin — if the "
            "broadcast side is provably tiny, add it to ALLOWED_BNLJ "
            "with the reason"
        )
    else:
        # the whitelist must not go stale: the sanctioned pattern is
        # still present and still broadcast-built
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name}: whitelisted but plan no longer has the nested "
            "loop — remove it from ALLOWED_BNLJ"
        )
