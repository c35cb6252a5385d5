"""Pretraining data-selection operators: DSIR and CCNet perplexity buckets.

Two published curation methods a 100 TB training-data pipeline runs between
dedup and tokenization:

- ``dsir_select`` — Data Selection via Importance Resampling (Xie et al.,
  NeurIPS 2023): hashed-n-gram importance weights target/raw + Gumbel
  top-k sampling.
- ``ccnet_perplexity_buckets`` — CCNet's per-language perplexity
  head/middle/tail split (Wenzek et al., LREC 2020), with the bigram LM of
  ``t9`` standing in for KenLM (a pre-trained count table would swap in,
  nothing else changes).

Both are pure Column-expression plans (JVM-side, no UDFs); all randomness
is the engine-portable md5 hash, so results reproduce across engines and
runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators import text


def dsir_select(
    docs: DataFrame,
    target: Column,
    *,
    n_buckets: int = 8192,
    k: int = 100,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """Hashed-unigram importance resampling (DSIR; Xie et al. 2023).

    Estimates the target and raw token distributions over ``n_buckets``
    hashed feature buckets (``target`` is a boolean Column over ``docs``
    marking the target-domain subset, e.g. ``F.col("lang") == "en"``),
    scores every document with the add-α-smoothed importance log-weight

        logw = Σ_tokens  ln p_target(bucket) − ln p_raw(bucket)

    then applies the Gumbel-top-k trick — adding per-document Gumbel noise
    and keeping the ``k`` largest is exactly sampling WITHOUT replacement
    with probability ∝ exp(logw), the paper's resampling step. The noise
    is derived from the portable md5 hash of ``doc_id``, so the sample is
    deterministic (the published method's np.random.gumbel with the seed
    pinned by construction).

    Scale shape: ONE corpus explode feeds ONE bucket-count aggregation
    (#buckets rows; both distributions come out of the same pass via a
    conditional count); the model table broadcasts back onto the token
    stream; per-doc scores are one doc_id-keyed aggregation (the only
    corpus shuffle); selection is a TakeOrderedAndProject, not a global
    sort. Nothing corpus-sized is ever broadcast or windowed.

    Returns ``doc_id, lang, n_tokens, logw, score`` for the selected k.
    """
    base = docs.select("doc_id", "lang", target.alias("is_t"), "text")
    tb = base.select(
        "doc_id",
        "lang",
        "is_t",
        F.explode(text.words(F.col("text"))).alias("w"),
    ).select(
        "doc_id",
        "lang",
        "is_t",
        (text.portable_hash(F.col("w"), seed=seed) % n_buckets).alias("b"),
    )
    counts = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.count_if(F.col("is_t")).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_r").cast("double").alias("n_r"),
        F.sum("c_t").cast("double").alias("n_t"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("c_t") + alpha) / (F.col("n_t") + alpha * n_buckets))
            - F.log((F.col("c_r") + alpha) / (F.col("n_r") + alpha * n_buckets))
        ).alias("llr"),
    )
    scored = (
        tb.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("llr").alias("logw"))
    )
    # Gumbel(0,1) via inverse CDF of a portable uniform in (0,1)
    u = (
        text.portable_hash(F.col("doc_id").cast("string"), seed=f"{seed}-g")
        % (1 << 30)
        + F.lit(0.5)
    ) / F.lit(float(1 << 30))
    sel = (
        scored.withColumn("score", F.col("logw") - F.log(-F.log(u)))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
    return sel.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("logw", 6).alias("logw"),
        F.round("score", 6).alias("score"),
    )


def ccnet_perplexity_buckets(docs: DataFrame, ref: Column) -> DataFrame:
    """CCNet-style per-language perplexity split (Wenzek et al. 2020).

    Trains a per-language bigram MLE language model on the reference
    subset (``ref`` is a boolean Column over ``docs`` — CCNet's Wikipedia
    stand-in), scores every document by cross-entropy over its own
    bigrams (t9's scoring), and splits each language at the 1/3 and 2/3
    cross-entropy terciles into ``head`` / ``middle`` / ``tail`` — head
    being the most reference-like text, the slice pretraining pipelines
    keep first.

    Scale shape: the LM is one (lang, w1, w2) aggregation over the
    REFERENCE subset only (vocab²-bounded, broadcast to the scoring
    join); scoring is one doc_id-keyed corpus aggregation; thresholds
    are a #languages-row aggregate broadcast back. No corpus-wide
    window/sort — CCNet's own rank-by-perplexity is replaced by the
    percentile thresholds, which is its documented batch formulation.
    Exact ``percentile`` is the correctness path; at 100 TB swap
    ``approx_percentile`` (t-digest, one pass) — same idiom as dq2/o9.
    Documents whose bigrams never occur in their language's reference LM
    (or with < 2 tokens) drop out, mirroring CCNet's unscorable bucket.
    """
    w = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_big = docs.select(
        "doc_id", "lang", ref.alias("is_ref"), F.explode(bigrams).alias("bg")
    ).select("doc_id", "lang", "is_ref", "bg.w1", "bg.w2")
    # eager localCheckpoint (t9 idiom): bc feeds both uc and the model join
    bc = (
        doc_big.filter(F.col("is_ref"))
        .groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    uc = bc.groupBy("lang", "w1").agg(F.sum("c12").alias("c1"))
    model = bc.join(uc, ["lang", "w1"]).withColumn(
        "logp", F.log(F.col("c12").cast("double") / F.col("c1"))
    )
    scored = (
        doc_big.join(F.broadcast(model), ["lang", "w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 6).alias("cross_entropy"),
        )
    )
    th = scored.groupBy("lang").agg(
        F.expr("percentile(cross_entropy, 0.3333333333333333)").alias("t1"),
        F.expr("percentile(cross_entropy, 0.6666666666666666)").alias("t2"),
    )
    return scored.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "cross_entropy",
        F.when(F.col("cross_entropy") <= F.col("t1"), "head")
        .when(F.col("cross_entropy") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def kmeans_assign_full(unit_vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid assignment WITH its distance, as a struct Column
    ``(d, bucket)``: min over (‖c_i‖² − 2·u·c_i, i) — for unit u, argmin
    of squared L2 (the constant ‖u‖² drops out); the struct-min breaks
    distance ties to the lowest cluster id. ‖c_i‖² is precomputed
    driver-side so the per-row work is one dot product per centroid.
    SQL-portable twice over: ``bucket`` is the d11b oracle's CASE-chain
    assignment, and ``d`` is simply LEAST(d_0..d_{k-1}) over the same
    literals (dq4 uses both)."""
    scored = F.array(
        *[
            F.struct(
                (
                    F.lit(float(sum(x * x for x in c)))
                    - 2.0
                    * F.aggregate(
                        F.zip_with(
                            unit_vec,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d"),
                F.lit(i).alias("bucket"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(scored)


def kmeans_assign(unit_vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id only — see ``kmeans_assign_full``."""
    return kmeans_assign_full(unit_vec, centroids)["bucket"]


def kmeans_assigned(
    emb: DataFrame, centroids: list[list[float]], vec_col: str, keep: list[str]
) -> DataFrame:
    """``keep`` plus ``_a = kmeans_assign_full(unit(vec_col), centroids)``:
    the staged norm → unit → assign projection chain. The norm, then the
    unit vector, are projected columns so each is evaluated once per row —
    inlining the unit vector into the assignment re-evaluates the
    64-element norm per element AND per centroid through interpreted
    higher-order expressions (~2× on d11b). A zero-norm row's unit vector
    is the zero vector (coalesced try_divide), which lands in some cluster
    and pairs with nothing. The d11b/o14/dq4 oracles' u/dd CTEs restate
    this chain exactly."""
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda y: y * y), F.lit(0.0), lambda a, y: a + y
    )
    unit = F.transform(
        F.col(vec_col),
        lambda x: F.coalesce(F.try_divide(x.cast("double"), F.col("_n")), F.lit(0.0)),
    )
    staged = keep + [vec_col] * (vec_col not in keep)
    return (
        emb.select(*staged, F.sqrt(sq).alias("_n"))
        .select(*keep, unit.alias("_u"))
        .select(*keep, kmeans_assign_full(F.col("_u"), centroids).alias("_a"))
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    threshold: float = 0.8,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocker: str = "signlsh",
    n_clusters: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023) over an
    embedding column, end to end: bucket → within-bucket cosine pairs →
    connected components → one canonical survivor per component.

    SemDeDup clusters embeddings (they use k-means) and deduplicates
    WITHIN clusters only — the approximation that makes embedding dedup
    sub-quadratic. Two interchangeable blockers:

    - ``blocker='signlsh'`` (default): deterministic axis-aligned sign-LSH
      bucket (``similarity.sign_bucket``) — engine-portable and
      SQL-oracle-able (the d11 oracle).
    - ``blocker='kmeans'``: the PAPER's blocker proper — spherical k-means
      (vectors L2-normalized, so euclidean-nearest == cosine-nearest
      centroid) with ``n_clusters`` lists. Data-adaptive bucket sizes
      (sign-LSH buckets go empty/hot under anisotropic embeddings). Without
      ``centroids`` the fit is the ANN quantizers' own: the seeded numpy
      k-means++/Lloyd (``similarity._kmeanspp_lloyd``) on the bounded
      deterministic ``similarity._fit_sample`` — one collect at
      construction; NOT SQL-expressible, so its gate is the pytest recall
      bound vs planted pairs, sim3-style. With ``centroids`` given there is
      no fit, and the query is SQL-expressible: the d11b oracle pins the
      same centroids as SQL literals — the realistic 100 TB shape, where
      quantizers are fitted once on a sample and FROZEN. Live and pinned
      centroids share one assignment, ``kmeans_assigned`` (nearest = min
      (‖c‖² − 2·u·c, cluster_id); struct-min ties break to the lowest id).

    Cross-bucket near-dups are missed by design under either blocker —
    the same documented blind spot as cross-cluster pairs in the paper;
    sign-LSH misses when a leading component sits at 0, k-means when a
    near-dup pair straddles a Voronoi boundary.

    Scale shape: one ``groupBy(bucket).applyInPandas`` runs d5's GEMM pair
    kernel (``similarity._near_pairs``) on each bucket against itself —
    Σ_b n_b²/2 scores at BLAS constants, in fixed tiles, with no join
    (2^n_bits buckets; raise n_bits or n_clusters as the corpus grows). The
    threshold cut tolerates the GEMM's ulp drift from the oracles' ltr
    cosine for the reason ``embedding_near_dupes_blocked`` gives. The
    pairs feed ``dedup.duplicate_clusters`` (d6) for min-label components;
    that loop shuffles (id, label) longs only, embeddings never enter it.
    Zero-norm rows pair with nothing, so they stay singletons. Returns
    ``(id_col, cluster_id, is_canonical)`` for every vector.
    """
    from consumer_loans_analysis_spark.operators import dedup, similarity

    if blocker == "signlsh":
        bucket = similarity.sign_bucket(F.col(vec_col), n_bits)
    elif blocker == "kmeans":
        if centroids is None:
            Xs = similarity._fit_sample(emb, id_col, vec_col)
            if len(Xs):
                centroids = similarity._kmeanspp_lloyd(Xs, n_clusters, seed).tolist()
        if centroids is None:  # no non-zero-norm row: nothing can pair
            bucket = F.lit(0)
        else:
            emb = kmeans_assigned(emb, centroids, vec_col, [id_col, vec_col])
            bucket = F.col("_a.bucket")
    else:
        raise ValueError(f"blocker must be signlsh | kmeans, got {blocker!r}")
    pairs = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), bucket.alias("b"))
        .groupBy("b")
        .applyInPandas(
            lambda pdf: similarity._near_pairs(threshold, pdf),
            similarity._pair_schema(emb, id_col),
        )
        .select("id_a", "id_b")
    )
    return dedup.duplicate_clusters(emb, pairs, id_col=id_col)


def pca_whiten_score(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
) -> DataFrame:
    """Whitened PCA projection + Mahalanobis outlier score over the PINNED
    transform (``operators/pca_components.py`` — fitted once driver-side,
    frozen as literals; re-pin with ``tools/probe_refit_pca_components.py``).
    The covariance-aware companion to dq4's per-cluster distance rank:
    ``maha2 = Σ_j ((v·w_j − c_j)·inv_sd_j)²`` is the squared Mahalanobis
    distance in the top-k principal subspace, and ``is_outlier`` flags
    rows beyond ``threshold`` (default: the chi²₈ 0.99 quantile — the
    classical whitening-then-threshold embedding audit; the registered
    query pins the 0.90 quantile instead because this corpus's tails are
    sub-Gaussian, see ``tools/probe_refit_pca_components.py``).

    Numerics are SQL-portable BY CONSTRUCTION: each dot is the same
    left-to-right accumulation (Spark ``aggregate`` / DuckDB
    ``list_dot_product`` — the d11b-proven pairing), the centering
    offset ``c_j = ltr_dot(mean, w_j)`` is pinned rather than re-derived
    per row, and whitening multiplies by a pinned ``1/σ`` literal
    (multiply, not divide — one rounding on both engines). The eight
    projections are STAGED as columns before the score (the sim3b/sim4
    unit-staging lesson: inlining each pc into maha2 would re-evaluate
    the 64-term dots). Map-only — zero shuffles, scan-rate at 100 TB.
    """
    from consumer_loans_analysis_spark.operators.pca_components import (
        PCA_C,
        PCA_CHI2_99_8,
        PCA_INV_SD,
        PCA_W,
    )

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pcs = []
    for j, (w, c, s) in enumerate(zip(PCA_W, PCA_C, PCA_INV_SD), 1):
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(x)) for x in w]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        pcs.append(((dot - F.lit(float(c))) * F.lit(float(s))).alias(f"pc{j}"))
    staged = df.select(F.col(id_col), *pcs)
    maha2 = F.col("pc1") * F.col("pc1")
    for j in range(2, len(PCA_W) + 1):
        maha2 = maha2 + F.col(f"pc{j}") * F.col(f"pc{j}")
    if threshold is None:
        threshold = PCA_CHI2_99_8
    scored = staged.select("*", maha2.alias("maha2"))
    return scored.select(
        "*", (F.col("maha2") > F.lit(float(threshold))).alias("is_outlier")
    )


def nb_seed_classifier(
    docs: DataFrame,
    seed: Column,
    *,
    alpha: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """Seed-vs-web quality CLASSIFIER (the GPT-3 / LLaMA-pipeline shape:
    train a cheap linear text classifier on a trusted seed corpus vs the
    raw pool, keep documents the classifier scores seed-like — Brown et
    al. 2020 §A use logistic regression over hashed features; fastText is
    the common open implementation). This is the multinomial-Naive-Bayes
    member of that linear family, chosen because its training is
    CLOSED-FORM — one token-count aggregation, no iterations — so the
    whole fit+score is a deterministic dataflow an external SQL oracle
    can restate exactly (the t19/dsir precedent).

    Per document: posterior log-odds
        ln P(seed) − ln P(bg) + Σ_tokens [ln p(t|seed) − ln p(t|bg)]
    with add-α (Laplace) token smoothing over the corpus vocabulary;
    ``kept`` = log-odds > 0 (the MAP decision).

    Scale shape (DSIR's): ONE corpus explode feeds ONE vocab-bounded
    token-count aggregation (both class counts via conditional count in
    the same pass); priors are a 1-row doc-level aggregate; the model
    table joins back onto the token stream; per-doc scores are one
    doc_id-keyed aggregation — the only corpus shuffles are the count
    build and the score build. The model is VOCABULARY-sized: Heaps'
    law bounds it far below corpus size, but at 100 TB that is still
    ~10^8 tokens — past any broadcast threshold. The scoring join
    broadcasts the model side explicitly. (The r12 un-hinted variant was
    measured-wrong: the static planner broadcast the CORPUS token stream
    — BuildLeft — 1.26× slower at sf0.1 and strictly worse at scale; AQE
    cannot demote a static broadcast join.) Where the vocabulary
    outgrows the broadcast threshold, use the EXACTLY-bounded variant
    ``nb_seed_classifier_hashed``.

    Returns (doc_id, source, n_tokens, log_odds rounded 6dp, kept).
    """
    base = docs.select("doc_id", "source", seed.alias("is_s"), F.col(text_col))
    tok = base.select(
        "doc_id", "source", "is_s",
        F.explode(text.words(F.col(text_col))).alias("w"),
    )
    counts = tok.groupBy("w").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.count_if(F.col("is_s")).alias("c_s"),
    )
    scal = counts.agg(
        F.sum("c_s").cast("double").alias("n_s"),
        (F.sum("c_all") - F.sum("c_s")).cast("double").alias("n_b"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    # prior is 1-row fit state: collect it (the fit-state-as-literals
    # convention) and fail fast on a degenerate fit — an empty class
    # would otherwise surface as Spark NULL (log(0) -> null) vs DuckDB
    # -inf (ln(0)), an engine divergence instead of a clear error
    pr = base.agg(
        F.count_if(F.col("is_s")).cast("double").alias("d_s"),
        F.count_if(~F.col("is_s")).cast("double").alias("d_b"),
    ).head()
    if not pr["d_s"] or not pr["d_b"]:
        raise ValueError(
            f"nb_seed_classifier needs both classes non-empty: seed docs="
            f"{int(pr['d_s'])}, background docs={int(pr['d_b'])}"
        )
    d_s, d_b = pr["d_s"], pr["d_b"]
    model = counts.crossJoin(F.broadcast(scal)).select(
        "w",
        (
            F.log((F.col("c_s") + alpha) / (F.col("n_s") + alpha * F.col("v")))
            - F.log(
                (F.col("c_all") - F.col("c_s") + alpha)
                / (F.col("n_b") + alpha * F.col("v"))
            )
        ).alias("llr"),
    )
    scored = (
        tok.join(F.broadcast(model), "w")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("llr").alias("s_llr"))
    )
    out = scored.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(
            F.log(F.lit(d_s) / (F.lit(d_s) + F.lit(d_b)))
            - F.log(F.lit(d_b) / (F.lit(d_s) + F.lit(d_b)))
            + F.col("s_llr"),
            6,
        ).alias("log_odds"),
    )
    return out.withColumn("kept", F.col("log_odds") > 0)


def nb_seed_classifier_hashed(
    docs: DataFrame,
    seed: Column,
    *,
    alpha: float = 1.0,
    n_buckets: int = 1 << 20,
    hash_seed: int = 12,
    text_col: str = "text",
) -> DataFrame:
    """``nb_seed_classifier`` over HASHED features — the actual
    Brown et al. 2020 §A / fastText shape (r12, VERDICT r11 #3): tokens
    are bucketed by a portable hash into a FIXED 2^B-bucket feature
    space, so the model is exactly ``n_buckets`` rows regardless of
    corpus size — broadcastable by construction at 100 TB, where the
    exact-vocabulary variant's Heaps-bounded model (~10^8 tokens) is
    not. The hashing trick costs only collision noise (two tokens
    sharing a bucket share a likelihood ratio), which is the documented
    production trade; the bucket hash is the engine-portable md5 prefix
    (``text.portable_hash``), so the ENTIRE fit+score dataflow stays
    restatable by an external SQL oracle — dq8b shares dq8's oracle
    skeleton with one extra bucketing expression.

    Smoothing is over the FIXED feature space (v = n_buckets), keeping
    every model scalar corpus-independent in shape. Per document:
    posterior log-odds as ``nb_seed_classifier``, with token likelihoods
    read per bucket; ``kept`` = log-odds > 0.

    Scale shape: identical dataflow — one explode, ONE bounded
    conditional-count aggregation (≤ n_buckets rows), a legitimately
    broadcast model join-back (the bound is structural, so the hint is
    kept), one doc-keyed score aggregation.
    """
    from consumer_loans_analysis_spark.operators import text as _text

    base = docs.select("doc_id", "source", seed.alias("is_s"), F.col(text_col))
    tok = base.select(
        "doc_id", "source", "is_s",
        F.explode(_text.words(F.col(text_col))).alias("w"),
    ).select(
        "doc_id", "source", "is_s",
        F.pmod(
            _text.portable_hash(F.col("w"), seed=hash_seed), F.lit(n_buckets)
        ).alias("b"),
    )
    counts = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.count_if(F.col("is_s")).alias("c_s"),
    )
    scal = counts.agg(
        F.sum("c_s").cast("double").alias("n_s"),
        (F.sum("c_all") - F.sum("c_s")).cast("double").alias("n_b"),
    )
    pr = base.agg(
        F.count_if(F.col("is_s")).cast("double").alias("d_s"),
        F.count_if(~F.col("is_s")).cast("double").alias("d_b"),
    ).head()
    if not pr["d_s"] or not pr["d_b"]:
        raise ValueError(
            f"nb_seed_classifier_hashed needs both classes non-empty: seed "
            f"docs={int(pr['d_s'])}, background docs={int(pr['d_b'])}"
        )
    d_s, d_b = pr["d_s"], pr["d_b"]
    v = float(n_buckets)
    model = counts.crossJoin(F.broadcast(scal)).select(
        "b",
        (
            F.log((F.col("c_s") + alpha) / (F.col("n_s") + alpha * F.lit(v)))
            - F.log(
                (F.col("c_all") - F.col("c_s") + alpha)
                / (F.col("n_b") + alpha * F.lit(v))
            )
        ).alias("llr"),
    )
    scored = (
        tok.join(F.broadcast(model), "b")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("llr").alias("s_llr"))
    )
    out = scored.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(
            F.log(F.lit(d_s) / (F.lit(d_s) + F.lit(d_b)))
            - F.log(F.lit(d_b) / (F.lit(d_s) + F.lit(d_b)))
            + F.col("s_llr"),
            6,
        ).alias("log_odds"),
    )
    return out.withColumn("kept", F.col("log_odds") > 0)
