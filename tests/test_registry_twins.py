"""Guard against twin registrations: two queries that share one oracle SQL
string check the same answer, so unless they exercise different
algorithms (or a batch query and its streaming twin), one of them only
re-runs the other's code path under a second name."""

from __future__ import annotations

from collections import defaultdict

from consumer_loans_analysis_spark.plans import registry

# each group shares one oracle on purpose; the reason says what differs
ALLOWED_SHARED_ORACLES = {
    ("e1_tumbling_window", "e4_stream_tumbling_drained"):
        "batch window vs its drained streaming twin",
    ("d2_ngram_jaccard_pairs", "d3_minhash_lsh_pairs", "d10_stream_dedup_drained"):
        "exact inverted index vs MinHash LSH vs streaming dedup",
    ("sim1_cosine_topk", "sim4_ivf_full_probe_topk", "sim5b_pq_full_rerank_topk"):
        "exact GEMM scan vs full-probe IVF vs PQ with full re-rank",
    ("sk4_mg_heavy_hitters", "sk5_streaming_mg_heavy_hitters"):
        "batch Misra-Gries vs cross-batch streaming state",
    ("d8_incremental_dedup", "d12_bloom_incremental_dedup"):
        "anti-join dedup vs Bloom-filter gate",
}


def test_shared_oracles_are_allowlisted():
    registry.load_all()
    groups: dict[str, list[str]] = defaultdict(list)
    for name, sql in registry.ORACLES.items():
        groups[sql].append(name)
    shared = {frozenset(names) for names in groups.values() if len(names) > 1}
    allowed = {frozenset(names) for names in ALLOWED_SHARED_ORACLES}
    unexpected = sorted(sorted(names) for names in shared - allowed)
    assert not unexpected, f"queries sharing one oracle: {unexpected}"
