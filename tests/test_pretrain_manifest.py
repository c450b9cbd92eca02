"""Round-6 flagship: the composed CCNet/Gopher/DSIR selection funnel
(operators/pipeline.py::corpus_pretrain_manifest)."""

from __future__ import annotations

from mongo_hadoop_spark.operators.pipeline import corpus_pretrain_manifest

from conftest import SF_SMOKE


def test_funnel_is_monotone_and_covers_corpus(spark):
    rows = corpus_pretrain_manifest(spark, SF_SMOKE).collect()
    assert rows, "manifest must not be empty"
    total_raw = sum(r["n_docs_raw"] for r in rows)
    assert total_raw == 500  # every document accounted for exactly once
    for r in rows:
        # each gate ANDs the previous: counts can only shrink
        assert (r["n_docs_raw"] >= r["n_gopher"] >= r["n_ppl_head_middle"]
                >= r["n_span_clean"] >= r["n_selected"] >= 0)
        if r["n_selected"] == 0:
            assert r["tokens_selected"] == 0
        else:
            assert r["tokens_selected"] > 0
    # the funnel must actually select something corpus-wide
    assert sum(r["n_selected"] for r in rows) > 0


def test_manifest_plan_shape(spark):
    """One declarative plan: threshold cuts are broadcast scalar joins
    (never a cartesian of data rows), no single-partition Window over
    the corpus, stage joins are doc_id-keyed."""
    plan = (corpus_pretrain_manifest(spark, SF_SMOKE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "percentile_disc" in plan


def test_fused_scores_match_standalone(spark):
    """The fused one-token-pass (surprisal, DSIR) table must be
    bit-identical to the standalone operators it replaces — the manifest
    gate thresholds compare these doubles exactly."""
    from mongo_hadoop_spark.operators.lm import _doc_scores
    from mongo_hadoop_spark.operators.pipeline import (_ppl_dsir_scores_from,
                                                       _tokenized_base)
    from mongo_hadoop_spark.operators.selection import corpus_dsir_weights

    fused = {
        r["doc_id"]: r
        for r in _ppl_dsir_scores_from(
            _tokenized_base(spark, SF_SMOKE)).collect()
    }
    ppl = {r["doc_id"]: r for r in _doc_scores(spark, SF_SMOKE).collect()}
    dsr = {r["doc_id"]: r
           for r in corpus_dsir_weights(spark, SF_SMOKE).collect()}
    assert fused.keys() == ppl.keys() == dsr.keys()
    for doc_id, f in fused.items():
        assert f["n_tokens"] == ppl[doc_id]["n_tokens"]
        # exact equality: both sides are integer-sum / integer-count
        assert f["surprisal_bits"] == ppl[doc_id]["surprisal_bits"]
        assert f["avg_q20_per_token"] == dsr[doc_id]["avg_q20_per_token"]


def test_approx_manifest_matches_exact(spark):
    """The production threshold-cut mode (approx_percentile cuts,
    corpus_pretrain_manifest_approx) must reproduce the exact manifest
    verbatim at verification scale: GK rank error ε·n = n/1e6 < 1/2, so
    both cuts are provably the percentile_disc values — the pin that
    lets the approx gate share the exact DuckDB oracle."""
    from mongo_hadoop_spark.operators.pipeline import (
        corpus_pretrain_manifest_approx)

    exact = sorted(map(tuple, corpus_pretrain_manifest(
        spark, SF_SMOKE).collect()))
    approx = sorted(map(tuple, corpus_pretrain_manifest_approx(
        spark, SF_SMOKE).collect()))
    assert approx == exact


def test_approx_manifest_plan_has_no_exact_percentile(spark):
    from mongo_hadoop_spark.operators.pipeline import (
        corpus_pretrain_manifest_approx)

    plan = (corpus_pretrain_manifest_approx(spark, SF_SMOKE)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "approx_percentile" in plan
    assert "percentile_disc" not in plan


def test_token_budget_apply_side_is_output_bound(spark):
    """The BPE-count side must be gated to selected docs via a BROADCAST
    semi-join before the explode (r9): a sort-merge semi would shuffle
    the full text stream; no gate at all would explode the whole corpus
    (the r8 1.64×-at-8× shape)."""
    from mongo_hadoop_spark.operators.pipeline import (
        corpus_pretrain_token_budget)

    plan = (corpus_pretrain_token_budget(spark, SF_SMOKE)
            ._jdf.queryExecution().executedPlan().toString())
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi, "selected-ids semi-join gate missing"
    assert all("BroadcastHashJoin" in l for l in semi), semi
