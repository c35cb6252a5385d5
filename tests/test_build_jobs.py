"""Plan-construction job census: building a registry query should launch no
Spark job. Every query is built at sf0.001 under its own job group; the
ones whose builders run eager work (a fit, a collect of a small model, an
eager checkpoint) are allowlisted with their count and the reason.

The allowlist may only shrink: lower a count or drop an entry when a
builder stops running a job, never raise one to make a change pass."""

from __future__ import annotations

from test_plan_shapes import _build_jobs

from consumer_loans_analysis_spark.plans import registry
from consumer_loans_analysis_spark.streaming import events

# name -> (build-time jobs at sf0.001, what runs them); nonzero counts only.
# One eager action over a shuffle is two jobs (map stage + result).
ALLOWED = {
    "ccnet1_perplexity_buckets": (2, "reference bigram counts checkpointed"),
    "d6_dup_clusters": (32, "min-label rounds, each checkpointed"),
    "d10_stream_dedup_drained": (4, "3 chunk writes + result checkpoint"),
    "d11_semantic_dedup": (18, "min-label rounds, each checkpointed"),
    "d11b_semantic_dedup_kmeans": (18, "min-label rounds, each checkpointed"),
    "d12_bloom_incremental_dedup": (3, "Bloom filter bits collected"),
    "dq1_constraint_audit": (9, "row-rule aggregate + one collect per unique rule"),
    "dq6_stream_c4_gate_drained": (4, "3 chunk writes + sink checkpoint"),
    "dq8_seed_quality_classifier": (2, "seed/background doc counts"),
    "dq8b_seed_quality_hashed": (2, "seed/background doc counts"),
    "drift1_token_kl": (2, "token counts checkpointed"),
    "e1q_mode_impute": (2, "imputer fit"),
    "e4q_scalar_scale": (2, "scaler fit"),
    "e7q_named_onehot": (2, "encoder fit"),
    "m4q_binary_metrics": (2, "confusion counts collected"),
    "m4q2_class_report": (2, "confusion counts collected"),
    "p17_target_mean_encode": (4, "target encoder fit"),
    "pipe5_fluency_curation": (3, "survivor checkpoint + KN counts collected"),
    "sim1_cosine_topk": (1, "query collect"),
    "sim3_ivf_topk": (2, "fit sample + query collect"),
    "sim3b_ivf_pinned_topk": (1, "query collect"),
    "sim4_ivf_full_probe_topk": (2, "fit sample + query collect"),
    "sim5_pq_topk": (2, "fit sample + query collect"),
    "sim5b_pq_full_rerank_topk": (2, "fit sample + query collect"),
    "sim5c_pq_pinned_topk": (1, "query collect"),
    "sim6_prefix_rerank_topk": (1, "query collect"),
    "sim7_hard_negatives": (2, "distinct labels collected"),
    "sim8_ivfadc_pinned_topk": (1, "query collect"),
    "sk5_streaming_mg_heavy_hitters": (3, "3 chunk writes"),
    "t8_bm25_top_terms": (2, "term frequencies checkpointed"),
    "t9_bigram_lm_score": (2, "bigram counts checkpointed"),
    "t15_bpe_train": (2, "pretoken counts collected"),
    "t18_word_pmi": (1, "word counts checkpointed"),
    "t19_kneser_ney_score": (1, "KN counts collected"),
}

# Queries whose builders drain a stream. Their micro-batch jobs run in the
# stream's own job group, so the census sees only the jobs the builder runs
# on the calling thread (the counts above, or none).
DRAINED = {
    "d10_stream_dedup_drained",
    "dq6_stream_c4_gate_drained",
    "e4_stream_tumbling_drained",
    "e5_stream_join_drained",
    "e6_stream_dedup_drained",
    "e11_stream_stateful_drained",
    "e13_stream_static_enrich_drained",
    "sk5_streaming_mg_heavy_hitters",
}


def test_build_job_census(spark, sf_dir, monkeypatch):
    registry.load_all()
    assert not set(ALLOWED) - set(registry.QUERIES), "allowlisted names left the registry"
    drained: set[str] = set()
    drain = events._drain

    def recording_drain(*args, **kwargs):
        drained.add(name)  # the query being built below
        return drain(*args, **kwargs)

    monkeypatch.setattr(events, "_drain", recording_drain)
    over = {}
    for name, build in sorted(registry.QUERIES.items()):
        jobs = _build_jobs(spark, f"census_{name}", lambda: build(spark, sf_dir))
        allowed = ALLOWED.get(name, (0, ""))[0]
        if len(jobs) > allowed:
            over[name] = (len(jobs), allowed)
    assert not over, f"build-time jobs above the allowlist (seen, allowed): {over}"
    assert drained == DRAINED, sorted(drained ^ DRAINED)
