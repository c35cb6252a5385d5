"""Structural plan assertions for the round-3 scale fixes: the three
plans the r02 audit flagged must never regress back to their
single-partition / corpus-broadcast shapes.

These assert on the PHYSICAL plan string, not timings — cheap, and they
catch the regression even at test SF where the bad shapes are fast.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators import similarity, text
from consumer_loans_analysis_spark.sources.readers import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_search_has_no_window(spark, sf_dir):
    """t13: global top-k must compile to TakeOrderedAndProject (per-
    partition heap + driver merge), with NO WindowExec — an unpartitioned
    row_number window funnels every matching document through one
    partition."""
    docs = read_table(spark, sf_dir, "documents")
    plan = _plan(text.bm25_search(docs, ["spark", "hash"], k=20))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_drift_marginals_avoid_global_window(spark, sf_dir):
    """drift1: the global and per-source marginals must be broadcast
    aggregates, not empty-partition windows. The surviving window is the
    per-word one (groups bounded by #sources)."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["drift1_token_kl"](spark, sf_dir))
    # windowspecdefinition(...) with no partition keys renders as
    # "windowspecdefinition(x ASC..." — every window here must carry the
    # word partition key
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "w#" in line or "w " in line, line
    assert plan.count("Window") <= 1, plan


def test_chunking_is_map_only(spark, sf_dir):
    """chunk1: context-window chunking must stay a pure scan-rate plan —
    no Exchange of any kind (the explode multiplies rows map-side)."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["chunk1_context_windows"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_c4_line_rules_is_map_only(spark, sf_dir):
    """dq5: the whole C4 battery — chunking, per-line rules, audit counts,
    in-order reassembly — must run inside the row: no Exchange AND no
    Generate (the line list never explodes; higher-order functions only)."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["dq5_c4_line_rules"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_blocked_gemm_join_is_not_forced_broadcast(spark, sf_dir):
    """d5: the block-pair join must be a (block_a, block_b) equi-join with
    no plan-mandated corpus broadcast. AQE may still CHOOSE broadcast at
    this tiny SF (size-based), so assert the logical shape instead: both
    sides explode to pair keys and the join condition is the composite
    equi-key, not a <= theta-join over a broadcast hint."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dupes_blocked(emb, threshold=0.45, n_blocks=8)
    logical = pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical
    assert logical.lower().count("explode") >= 2, logical
    # and the result still matches the plain-column exact path on a sample
    got = {
        (r["id_a"], r["id_b"]) for r in pairs.collect()
    }
    e = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))  # noqa: E731
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.try_divide(dot, norm("va") * norm("vb")))
        .filter(F.col("cos") >= 0.45)
        .collect()
    }
    assert got == want


def _build_jobs(spark, group, build) -> list:
    """Spark job ids launched on this thread while ``build()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction job count")
    try:
        build()
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)


def test_d5_build_runs_no_job(spark, sf_dir):
    """Building d5 at sf0.01 launches no job: the block pairs cogroup
    straight into the GEMM kernel, so nothing is packed or checkpointed
    while the plan is built."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    d5 = _build_jobs(
        spark, "d5_build", lambda: registry.QUERIES["d5_embedding_near_dupes"](spark, sf01)
    )
    assert d5 == [], d5


def test_semantic_dedup_pairs_have_no_join(spark, sf_dir, monkeypatch):
    """semantic_dedup's pair stage is one per-bucket GEMM
    (``groupBy(bucket).applyInPandas``), not a bucket self-join, under
    both blockers."""
    from consumer_loans_analysis_spark.operators import curation, dedup
    from consumer_loans_analysis_spark.operators.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )

    seen = []
    monkeypatch.setattr(dedup, "duplicate_clusters", lambda docs, pairs, id_col: seen.append(pairs))
    emb = read_table(spark, sf_dir, "embeddings")
    curation.semantic_dedup(emb, threshold=0.45, n_bits=4)
    curation.semantic_dedup(emb, threshold=0.45, blocker="kmeans", centroids=SEMDEDUP_CENTROIDS)
    assert len(seen) == 2
    for pairs in seen:
        plan = _plan(pairs)
        assert "Join" not in plan, plan
        assert "FlatMapGroupsInPandas" in plan, plan


@pytest.mark.parametrize("name", ["sim5_pq_topk", "sim3_ivf_topk"])
def test_live_ann_build_jobs(spark, sf_dir, name):
    """Building a live-fit ANN query at sf0.01 runs exactly two Spark
    jobs: the fit-sample collect and the query collect — no checkpoint of
    the corpus and no count (the default list count and the auto re-rank
    budget both read the fit sample's size)."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    sc = spark.sparkContext
    group = f"live_ann_build_{name}"
    sc.setJobGroup(group, "ANN construction job count")
    try:
        registry.QUERIES[name](spark, sf01)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 2, jobs


def test_dedup_build_action_free(spark, sf_dir):
    """d2 and d3 construction must run ZERO Spark jobs: the small-scan
    widening probe is driver-side file metadata, not
    df.rdd.getNumPartitions() (which forces physical planning and a
    JVM->Python RDD bridge), and the MinHash band index is consumed once
    by the posting lists, so nothing is checkpointed at construction."""
    from consumer_loans_analysis_spark.operators import dedup

    docs = read_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = "dedup_action_free_probe"
    sc.setJobGroup(group, "plan construction must not run jobs")
    try:
        df = dedup.jaccard_near_dupes(docs, threshold=0.8)
        sh = dedup.shingle_hashes(docs)
        mh = dedup.minhash_near_dupes(docs, threshold=0.8)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"plan construction ran jobs: {jobs}"
    assert df.columns == mh.columns == ["id_a", "id_b", "jaccard"]
    assert {"id", "sh"} <= set(sh.columns)
    df.limit(1).collect()
    mh.limit(1).collect()


@pytest.mark.parametrize("name", ["d2_ngram_jaccard_pairs", "d2b_ngram_jaccard_capped"])
def test_shingle_jaccard_scans_corpus_once(spark, sf_dir, name):
    """d2/d2b: the shingle table is read once — the pair counts and the
    per-document shingle counts both come off the same posting lists, so
    the final adaptive plan (after execution, stage reuse applied) holds
    exactly one parquet scan. A second scan means a second consumer of
    the shingle table, such as a hot-shingle anti-join, came back."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES[name](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_bloom_fast_path_is_exchange_and_join_free(spark, sf_dir, monkeypatch):
    """d12: the definite_new branch (Bloom says 'certainly unseen') must
    pass with ZERO exchange and ZERO join against the fingerprint table --
    that absence is the entire 100 TB value of the Bloom gate. Also pins
    the construction cost: with expected_items passed explicitly, building
    the plan runs only the documented bit_or bitmap aggregation, never the
    fallback fingerprint count()."""
    from consumer_loans_analysis_spark.operators import dedup

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    sc = spark.sparkContext
    # Pin the count() fallback DIRECTLY (not via relative Spark job counts,
    # which AQE may split/merge across versions): instrument
    # DataFrame.count and assert it fires only when expected_items is None.
    # patch the CONCRETE class (pyspark 4 routes pyspark.sql.DataFrame
    # through a classic/connect subclass; patching the base is a no-op)
    _DF = type(batch)

    count_calls = []
    orig_count = _DF.count

    def counting_count(self):
        count_calls.append(1)
        return orig_count(self)

    monkeypatch.setattr(_DF, "count", counting_count)

    group = "bloom_build_probe"
    sc.setJobGroup(group, "bloom construction job count")
    try:
        definite_new, verified_new = dedup.bloom_probe_split(
            batch, history, expected_items=1000, fpp=0.01
        )
        jobs_explicit = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs_explicit) >= 1  # the documented bit_or build aggregation
    assert count_calls == [], (
        "explicit expected_items must skip the fingerprint count() fallback"
    )

    dedup.bloom_incremental_dedupe(batch, history, fpp=0.01)
    assert len(count_calls) >= 1, (
        "expected the expected_items=None fallback to call count() on the "
        "fingerprint table"
    )
    monkeypatch.setattr(_DF, "count", orig_count)

    fast = _plan(definite_new)
    assert "Exchange" not in fast, fast
    assert "Join" not in fast, fast
    # the slow branch DOES carry the exact anti-join (the verify sliver)
    slow = _plan(verified_new)
    assert "Join" in slow, slow


def test_cms_sketch_joins_are_broadcast(spark, sf_dir):
    """sk3: the candidate-scoring join against the d×w sketch and the
    stream-total join must BOTH be broadcasts — if either side ever
    becomes a sort-merge/shuffle join, the plan is moving the corpus to
    the 64-row sketch instead of the sketch to the corpus."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["sk3_cms_heavy_hitters"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    # the sketch build must partial-aggregate before its exchange
    # (map-side combine collapses each partition to <= d*w rows)
    assert "partial_count" in plan, plan


def test_mg_exact_pass_broadcasts_candidates(spark, sf_dir):
    """sk4: the exact-verification join must broadcast the bounded
    candidate set (<= partitions*k rows) to the token stream — a
    sort-merge join there would shuffle the full corpus by word."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["sk4_mg_heavy_hitters"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "partial_count" in plan, plan


def test_weighted_sample_is_heap_topk(spark, sf_dir):
    """o12: the Efraimidis-Spirakis top-k must compile to
    TakeOrderedAndProject (per-partition heap + driver merge); the only
    WindowExec allowed is the rank pass over the LIMIT-k result."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["o12_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # the window must sit ABOVE the TakeOrdered (operate on <= k rows),
    # never directly on the scan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_cosine_topk_has_no_corpus_window(spark, sf_dir):
    """sim1: the exact top-k must be a mapInPandas GEMM scan emitting
    per-batch survivors, merged by a window over <= batches*|q|*k rows —
    NOT the r8 shape (broadcast cross join + per-query row_number window
    that lands each query's entire corpus score set on one partition).
    The old shape carried a Join; the scan shape carries none."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = similarity.cosine_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=5
    )
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    # one merge window over survivors; Spark additionally inserts a
    # Partial WindowGroupLimit BEFORE the exchange (map-side top-k of the
    # already-small survivor set)
    assert plan.count("Window [") == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_ann_merge_windows_have_group_limit(spark, sf_dir):
    """The ANN searches' rank<=k merge windows must carry WindowGroupLimit
    (Spark's partial per-partition top-k before the exchange) — without
    it every scored candidate row shuffles and sorts in full. Pins the
    optimizer shape so a refactor that breaks the row_number()<=k
    rewrite pattern (e.g. ranking on a derived column the optimizer
    can't see through) is caught structurally."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus, queries = emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5)
    from consumer_loans_analysis_spark.operators.ivf_centroids import IVF_CENTROIDS
    from consumer_loans_analysis_spark.operators.pq_codebooks import PQ_CODEBOOKS

    plans = {
        "bucketed": _plan(similarity.bucketed_topk(corpus, queries, k=3)),
        "ivf": _plan(similarity.ivf_topk(corpus, queries, k=5, n_lists=4, n_probe=2)),
        "pq": _plan(similarity.pq_topk(corpus, queries, k=5, m_subs=16, ks=16)),
        "ivf_pinned": _plan(
            similarity.ivf_topk(corpus, queries, k=5, n_probe=5,
                                centroids=IVF_CENTROIDS)
        ),
        "pq_pinned": _plan(
            similarity.pq_topk(corpus, queries, k=5, m_subs=16, ks=64,
                               codebooks=PQ_CODEBOOKS)
        ),
        "prefix_rerank": _plan(
            similarity.prefix_rerank_topk(corpus, queries, k=5, prefix_dim=16)
        ),
        "ivfadc_pinned": _plan(
            similarity.ivfadc_topk(corpus, queries, k=5, n_probe=5,
                                   m_subs=16, ks=64,
                                   centroids=IVF_CENTROIDS,
                                   codebooks=PQ_CODEBOOKS)
        ),
    }
    for name, plan in plans.items():
        assert "WindowGroupLimit" in plan, (name, plan)
    # every fused search routes, scores and re-ranks in ONE mapInPandas
    # pass (the batch holds the true vectors), so none carries a join —
    # the corpus crosses the Python boundary exactly once and the only
    # exchange is the per-query candidate merge window. A Join or a
    # second Python node here means a re-rank join (an extra corpus scan)
    # or a Column-expression routing path came back.
    for name in ("ivf", "ivf_pinned", "pq", "pq_pinned", "ivfadc_pinned", "prefix_rerank"):
        p = plans[name]
        assert "Join" not in p, (name, p)
        assert p.count("MapInPandas") == 1, (name, p)
        assert "ArrowEvalPython" not in p, (name, p)
        assert "BatchEvalPython" not in p, (name, p)


def test_pca_whiten_is_map_only(spark, sf_dir):
    """pca1: the pinned projection + Mahalanobis audit must be pure
    scan-rate Column arithmetic — no Exchange of any kind."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["pca1_pinned_whiten"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_pipe4_two_shuffles_and_clean_before_dedup(spark, sf_dir):
    """pipe4: exactly TWO hash exchanges (the cleaned-md5 dedup window,
    the shard/lang aggregate) — the map-only C4 battery must run before
    both, never behind its own exchange."""
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    plan = _plan(registry.QUERIES["pipe4_clean_dedup_shard"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def _registry_plan(spark, sf_dir, name: str) -> str:
    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()
    return _plan(registry.QUERIES[name](spark, sf_dir))


@pytest.mark.parametrize("name", ["t19_kneser_ney_score", "dq7_gopher_repetition"])
def test_kn_and_repetition_are_map_only(spark, sf_dir, name):
    """t19 (model built on the driver, scored in the closure) and dq7
    (the whole repetition battery per document) are one Arrow pass over
    the corpus: no Exchange, no Join, exactly one MapInPandas."""
    plan = _registry_plan(spark, sf_dir, name)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


@pytest.mark.parametrize(
    "name",
    [
        "t14b_bpe_encode_broadcast",
        "t20_wordpiece_greedy_encode",
        "t21_unigram_viterbi_encode",
    ],
)
def test_subword_encoders_shuffle_nothing(spark, sf_dir, name):
    """t14b/t20/t21: the merge table or vocabulary rides the closure, so
    per-doc encoding is complete within the batch — zero Exchange at any
    corpus size."""
    plan = _registry_plan(spark, sf_dir, name)
    assert "Exchange" not in plan, plan


def test_bpe_train_job_count_independent_of_merges(spark, sf_dir):
    """t15: bpe_train runs one distributed aggregation and trains every
    merge rank on the driver, so 20 merges launch exactly the Spark jobs
    that 2 merges do — none per rank."""
    docs = read_table(spark, sf_dir, "documents")
    sc = spark.sparkContext

    def train(n_merges):
        group = f"bpe_train_{n_merges}"
        sc.setJobGroup(group, "bpe_train job count")
        try:
            merges = text.bpe_train(docs, n_merges=n_merges)
            return merges, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    few, jobs_few = train(2)
    many, jobs_many = train(20)
    assert len(many) == 20 and many[:2] == few
    assert jobs_few == jobs_many > 0, (jobs_few, jobs_many)


def test_nb_seed_scoring_join_broadcasts_model(spark, sf_dir):
    """dq8: the scoring join builds on the vocabulary-sized MODEL side
    (BroadcastHashJoin BuildRight over the llr table) and never on the
    corpus token stream — un-hinted, the static planner chose BuildLeft
    over the exploded corpus."""
    plan = _registry_plan(spark, sf_dir, "dq8_seed_quality_classifier")
    joins = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert len(joins) == 1 and "BuildRight" in joins[0], plan
    assert "BuildLeft" not in plan, plan
    lines = plan.splitlines()
    i = next(
        j for j, ln in enumerate(lines)
        if "BroadcastExchange HashedRelationBroadcastMode" in ln
    )
    assert "AS llr" in lines[i + 1], plan
