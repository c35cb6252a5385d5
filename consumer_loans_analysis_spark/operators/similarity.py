"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k. The query batch closes over a
  ``mapInPandas`` GEMM scan; per-batch partial top-k is merged by a final
  window over survivors only. Linear in corpus size, no corpus shuffle —
  the correctness baseline.
- ``bucketed_topk``: sign-LSH (axis hyperplanes) variant — candidates are
  restricted to the query's bucket, an equi-join. The 100 TB path: recall
  trades against the number of probe buckets.

Dot products stay JVM-side via ``zip_with``/``aggregate`` (no Python UDF);
floats are cast to double before accumulation, left-to-right, so results are
deterministic and engine-portable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right double-accumulated dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: NULL (not a DIVIDE_BY_ZERO abort under ANSI) for a
    # degenerate all-zero vector.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def sq_l2(a: Column, b: Column) -> Column:
    """Squared euclidean distance between two float arrays."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (ties broken by
    neighbor id).

    Scale shape (r9 — replaces the broadcast-join + per-query row_number
    window, which shuffled all |corpus|×|queries| scored rows and landed
    each query's ENTIRE corpus score set on one partition): the query
    batch is collected to the driver (queries are operationally small —
    the same contract as ``pq_topk``) and closed over a ``mapInPandas``
    GEMM scan of the corpus. Each Arrow batch computes its slice of the
    cosine matrix with one numpy matmul and emits only its local top-k
    per query under the exact tie-break (stable argsort of -cos over
    id-sorted rows ≡ ORDER BY cos DESC, neighbor_id ASC), so the final
    merge window sees ≤ batches·|q|·k survivor rows — the corpus itself
    never shuffles and no corpus-sized WindowExec exists in the plan.
    Exact: the union of per-batch top-k always contains the global top-k.

    Zero-norm contract (same as ``ivf_topk``/``pq_topk``): zero-norm rows
    are EXCLUDED from both sides up front — cosine is undefined for them —
    so a zero-norm query produces no output rows.
    """
    import numpy as np

    corpus = corpus.filter(_norm(F.col(vec_col)) > 0)
    q_rows = (
        queries.filter(_norm(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    q_id_t = queries.schema[id_col].dataType.simpleString()
    n_id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {q_id_t}, neighbor_id {n_id_t}, cos double"
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema + ", rank int")
    q_ids = np.array([r["query_id"] for r in q_rows])
    Q = np.asarray([r["q_vec"] for r in q_rows], dtype=np.float64)
    qn = np.sqrt(_ltr_dot(Q, Q))  # (nq,)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["nid"].to_numpy()
            M = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            # pre-sort rows by neighbor id so a STABLE argsort of -cos
            # breaks score ties by ascending id — the exact tie-break
            order = np.argsort(ids, kind="stable")
            ids, M = ids[order], M[order]
            # raw ltr dot / (ltr-norm product) — the EXACT structure and
            # accumulation order of the oracle's list_dot_product(q, c) /
            # (SQRT(ldp(q,q)) * SQRT(ldp(c,c))), so every score is a
            # bit-identical IEEE754 double in both engines (no BLAS
            # GEMM/pairwise-norm, whose ulp-level drift could flip the
            # per-batch top-k cut on near-tied scores)
            cn = np.sqrt(_ltr_dot(M, M))  # (B,)
            S = _ltr_dot(M[:, None, :], Q[None, :, :]) / (
                cn[:, None] * qn[None, :]
            )  # (B, nq)
            top = min(k, S.shape[0])
            idx = np.argsort(-S, axis=0, kind="stable")[:top]  # (top, nq)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, top),
                    "neighbor_id": ids[idx.T.ravel()],
                    "cos": np.take_along_axis(S, idx, axis=0).T.ravel(),
                }
            )

    parts = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    ).mapInPandas(scan, out_schema)
    # merge window over the ≤ batches·|q|·k survivors only
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        parts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def prefix_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Progressive (funnel) retrieval: coarse top-R scan on the first
    ``prefix_dim`` dimensions, exact full-dimension re-rank of the R =
    ``rerank·k`` survivors — the Matryoshka-representation adaptive-
    retrieval recipe (Kusupati et al. 2022: shortlist with a cheap prefix
    embedding, fix the ranking with the full one).

    Unlike IVF/PQ this path has NO trained state at all: the candidate
    set is a pure function of the data, so the approximate search itself
    (not a full-probe twin) carries a full SQL oracle.

    Scale shape: the coarse pass reuses ``cosine_topk``'s mapInPandas
    GEMM scan — but on a prefix_dim-wide slice, cutting scan FLOPs and
    (on a prefix-ordered columnar layout) scan bytes by dim/prefix_dim;
    per batch only the local top-R survives. The re-rank is one
    broadcast-candidates join back onto the corpus (|q|·R rows — tiny),
    full-dim cosine in pure Column expressions, final bounded window.
    The corpus never shuffles.

    Zero-norm contract: ``cosine_topk`` excludes zero-norm PREFIX slices
    from the coarse scan (cosine undefined), so a vector whose first
    prefix_dim dims are all zero is unfindable by design — the funnel's
    standard failure mode, absent from the test corpora.
    """
    prefix = F.slice(F.col(vec_col), 1, prefix_dim)
    cands = cosine_topk(
        corpus.select(F.col(id_col), prefix.alias(vec_col)),
        queries.select(F.col(id_col), prefix.alias(vec_col)),
        k=max(k, rerank * k),
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def sign_bucket(vec: Column, n_bits: int = 6) -> Column:
    """Axis-aligned sign-LSH bucket: one bit per leading dimension."""
    bucket = F.lit(0)
    for j in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(vec, j + 1).cast("double") > 0, F.lit(2**j)
        ).otherwise(F.lit(0))
    return bucket


def bucketed_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 3, n_bits: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-LSH bucket, so
    the pairing is an equi-join on bucket id (shuffle on a small int key)
    instead of a cross join. Recall < 1 by design; raise n probe buckets or
    lower n_bits to trade recall for cost."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_near_dupes_exact(
    embeddings: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs embedding-cosine near-duplicates ≥ threshold. O(n²) —
    correctness oracle / small-corpus path only; ``embedding_near_dupes``
    is the bucketed scale path."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _rh_band_keys_udf(dim: int, n_bands: int, rows_per_band: int, seed: int):
    """Vectorized banded random-hyperplane signature: batch×dim @ dim×bits
    numpy matmul → sign bits → one packed long per band. A dense projection
    is the one embedding kernel where an Arrow-batched Pandas UDF beats
    per-element Column expressions (dim × bits multiply-adds per row)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    W = rng.standard_normal((dim, n_bands * max(rows_per_band, 1)))

    @pandas_udf("array<long>")
    def band_keys(vs: pd.Series) -> pd.Series:
        if rows_per_band == 0:
            # full probe: every vector lands in every band's single bucket
            return pd.Series([np.zeros(n_bands, dtype=np.int64)] * len(vs))
        m = np.stack(vs.to_numpy()).astype(np.float64)
        bits = (m @ W) > 0  # batch × (n_bands·rows_per_band)
        keys = np.zeros((len(m), n_bands), dtype=np.int64)
        for i in range(n_bands):
            for j in range(rows_per_band):
                keys[:, i] = (keys[:, i] << 1) | bits[:, i * rows_per_band + j]
        return pd.Series(list(keys))

    return band_keys


def embedding_near_dupes(
    embeddings: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_bands: int = 64, rows_per_band: int = 2, seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold via banded
    random-hyperplane sign-LSH candidates + exact cosine verification
    (the d3 MinHash pattern applied to dense vectors).

    A pair at angle θ agrees on one sign bit with probability 1−θ/π; at
    the 0.45 cosine threshold (θ≈63°, p≈0.65) the per-pair miss rate with
    the default 64 bands × 2 rows is (1−0.65²)⁶⁴ ≈ 6·10⁻¹⁶ — and every
    surviving candidate is verified exactly, so there are no false
    positives. ``rows_per_band=0`` degenerates to one all-pairs bucket
    (provably exact — the full-probe == brute-force test path).

    Scale shape: the banded explode carries only (id, band_idx, band_key)
    — 24 bytes/row — never the vectors; vectors rejoin only for the
    distinct candidate pairs. The old implementation was an O(n²) theta
    join over full vectors.

    DOMAIN OF APPLICABILITY: banding prunes in proportion to the gap
    between matching-pair bit-agreement p^r and the random-pair ½^r. Use
    this for HIGH thresholds (≥ ~0.7, p ≥ 0.75), where short bands are
    both selective and high-recall. At thresholds near the random-pair
    cosine (like this testdata's 0.45 — measured in SCALING.md), ½^r
    bucket collisions make candidate volume approach all-pairs × bands;
    ``embedding_near_dupes_blocked`` is the right exact path there.
    """
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        # dimension probe — ONE first() action. Pass ``dim`` explicitly to
        # make query construction action-free (tested in
        # test_plan_shapes.py::test_similarity_build_action_free).
        dim = len(e.select("v").first()["v"])
    if rows_per_band == 0:
        n_bands = 1
    keys = _rh_band_keys_udf(dim, n_bands, rows_per_band, seed)
    # cached: both candidate-join sides consume the banded keys, and the
    # dense random-projection (the Arrow-batched UDF — the expensive part)
    # would otherwise run over every vector twice. 24 B × n_bands per row,
    # vectors never enter the cache.
    banded = e.select(
        "id", F.posexplode(keys(F.col("v"))).alias("band_idx", "band_key")
    ).cache()
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    candidates = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer over
    the corpus, then each query probes only its ``n_probe`` nearest lists.

    Scale shape: the corpus is scored against ~n_probe/n_lists of its rows
    (an equi-join on list id) instead of all of them; centroids (n_lists ×
    dim floats) are driver-small and live inside BOTH the corpus
    assignment and the query probe as literal expressions. Train cost is
    one bounded deterministic sample (the ``fit_sample`` hash-smallest
    rows, one TakeOrdered job) + a seeded driver-side numpy
    k-means++/Lloyd fit — the same sample-fit contract as ``pq_topk``
    (r9; replaces the full-corpus MLlib fit, which cost a distributed
    job set per construction and would re-cluster 100 TB to learn a
    16KB quantizer). Recall rises with n_probe → n_lists gives exact
    search. Past ~64 lists move the assignment argmin from the
    expression form to an Arrow-batched pandas UDF (expression size
    grows linearly with n_lists).

    Spherical variant: vectors are L2-normalized before clustering and
    probing, so euclidean-nearest-list == cosine-nearest-list (plain L2
    IVF misroutes cosine queries when vector norms vary).

    Zero-norm contract: rows whose vector has zero L2 norm are EXCLUDED
    from both corpus and queries (cosine is undefined for them), so the
    output may contain fewer distinct ``query_id``s than the input — a
    zero-norm query produces no rows rather than null-cosine rows.

    Pinned-quantizer mode: pass ``centroids`` to skip the fit entirely and
    route with a FROZEN coarse quantizer (the production shape — quantizers
    are trained once and shipped; FAISS's index_factory does the same).
    With literal centroids every step of the query — assignment, probe
    ranking, pruning — is a deterministic, SQL-expressible function of the
    data, which is what gives ``sim3b_ivf_pinned_topk`` a full DuckDB hash
    oracle over its PRUNED 5-of-8-probe path (sim4 only oracles the
    exhaustive-probe twin).
    """
    import math

    import numpy as np

    if centroids is not None:
        if n_lists is not None and n_lists != len(centroids):
            raise ValueError(
                f"n_lists={n_lists} conflicts with {len(centroids)} pinned "
                "centroids — pass one or the other"
            )
        n_lists = len(centroids)
    elif n_lists is None:
        # √n default needs one count() action; pass n_lists explicitly to
        # skip it (the sample fit below is a training action either way —
        # this function is a fit+query, not a pure plan builder).
        n_lists = max(2, int(math.sqrt(corpus.count())))

    def unit(vec: Column) -> Column:
        return F.transform(vec, lambda x: F.try_divide(x.cast("double"), _norm(vec)))

    # zero-norm vectors have no direction: their cosine to anything is
    # undefined, so they can neither be ranked nor rank others — exclude
    # them up front (also keeps null unit-elements out of the quantizer
    # fit). Test corpora contain none, so the SQL oracles (where a
    # zero-norm row would surface as a NULL-cos candidate sorted last)
    # are unaffected.
    corpus = corpus.filter(_norm(F.col(vec_col)) > 0)
    queries = queries.filter(_norm(F.col(vec_col)) > 0)

    if centroids is None:
        # spherical coarse quantizer fitted on a bounded deterministic sample
        # (hash-smallest ids; partition-layout-independent — see pq_topk)
        fit_sample = 16384
        samp = (
            corpus.select(F.col(id_col).alias("sid"), unit(F.col(vec_col)).alias("u"))
            .orderBy(F.pmod(F.xxhash64("sid"), F.lit(1_000_003)).asc(),
                     F.col("sid").asc())
            .limit(fit_sample)
            .collect()
        )
        Xs = np.asarray([r["u"] for r in samp], dtype=np.float64)
        centroids = [
            [float(x) for x in c] for c in _kmeanspp_lloyd(Xs, n_lists, seed)
        ]

    from consumer_loans_analysis_spark.operators.curation import kmeans_assign

    # stage the norm, then the unit vector, as projected columns so each is
    # evaluated ONCE per row: inlining `unit(vec)` into kmeans_assign
    # re-evaluates the 64-element norm per element AND per centroid (8 ×
    # 64 × 64 ops/row) and the resulting expression tree is big enough to
    # fall out of whole-stage codegen — staging cut sim4/sim3b wall ~5×
    # at sf0.1. Same IEEE754 ops in the same order, so oracles are
    # unaffected.
    assigned = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("_n"),
        )
        .select(
            "neighbor_id",
            "c_vec",
            F.transform(
                F.col("c_vec"), lambda x: F.try_divide(x.cast("double"), F.col("_n"))
            ).alias("_u"),
        )
        .select(
            "neighbor_id",
            "c_vec",
            kmeans_assign(F.col("_u"), centroids).alias("list_id"),
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    # probe ranking uses the SAME ‖c‖² − 2·u·c form as the assignment (for
    # unit u it equals sq_l2 minus the constant 1, so the ranking is
    # identical) — one portable formula for both sides is what the sim3b
    # DuckDB oracle restates verbatim over the same literals.
    dists = F.array(
        *[
            F.struct(
                (
                    F.lit(float(sum(x * x for x in c)))
                    - 2.0
                    * _dot(unit(F.col("q_vec")), F.array(*[F.lit(float(x)) for x in c]))
                ).alias("d"),
                F.lit(i).alias("list_id"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probed = q.select(
        "query_id",
        "q_vec",
        F.explode(F.slice(F.array_sort(dists), 1, n_probe)).alias("p"),
    ).select("query_id", "q_vec", F.col("p.list_id").alias("list_id"))

    scored = assigned.join(F.broadcast(probed), "list_id").select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_near_dupes_blocked(
    embeddings: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_blocks: int = 32,
) -> DataFrame:
    """EXACT all-pairs cosine pairs ≥ threshold via block-partitioned matrix
    multiplication (the BLAS path).

    Why this exists next to the sign-LSH variant: LSH prunes in proportion
    to the gap between matching-pair and random-pair bit-agreement. At a
    LOW cosine threshold sitting near the random-pair distribution (this
    testdata: matches from 0.4501, non-matches up to 0.4497 — measured),
    per-band selectivity collapses to ~3× and candidate volume approaches
    all-pairs × bands — LSH does strictly more work than brute force.
    Exact low-margin all-pairs is Θ(n²) no matter what; the right move is
    to pay n² at dense-BLAS constants instead of shuffle-join constants:

    - pack each hash-block of vectors into ONE row holding the
      L2-normalized block matrix (``applyInPandas``);
    - explode BOTH sides to (block_a, block_b) pair keys (a-side: block i
      → keys (i, j≥i); b-side: block j → keys (i≤j, j)) and equi-join on
      the composite key — each side ships each block ~B/2 times through a
      SHUFFLE, so a task holds exactly the two blocks of its pairs. No
      broadcast: a broadcast of the packed table would ship the ENTIRE
      normalized corpus to every executor, which no broadcast budget
      survives at scale (AQE may still pick broadcast at tiny SF, where
      it genuinely fits — that is a size-based runtime decision, not a
      plan requirement);
    - one numpy GEMM per block pair (``mapInPandas``), emit only
      qualifying pairs.

    Cluster shape: parallelism = B(B+1)/2 block pairs spread by composite
    -key hash; per-task memory = two (n/B × dim) float64 matrices — size
    ``n_blocks`` so a block fits executor memory; shuffle volume = ~B ×
    corpus, the price of exact Θ(n²). Zero vectors get NaN rows (cos
    undefined) and can never qualify, matching the Column path's
    try_divide → NULL.

    Engine-parity note: scores here come from BLAS GEMM (pairwise/FMA
    accumulation), which can drift ~1 ulp from the d5 oracle's
    left-to-right ``list_dot_product`` arithmetic. That is safe for THIS
    operator because membership is thresholded and the corpus's measured
    margin around 0.45 is ~4·10⁻⁴ (matches ≥ 0.4501, non-matches ≤
    0.4497) — 12 orders of magnitude above ulp drift. A top-k cut has no
    such margin (near-ties at the boundary are routine), which is why
    ``cosine_topk``/``pq_topk`` use the strict-ltr ``_ltr_dot`` path
    instead. If you repoint this at a corpus whose pair cosines crowd the
    threshold, switch the GEMM to the ltr pattern.
    """
    import numpy as np

    e = embeddings.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    pack_schema = (
        "block int, ids array<long>, mat array<double>, n int, dim int"
    )

    def pack(key, pdf):
        ids = pdf["id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = np.nan
        mn = m / norms[:, None]
        return pd.DataFrame(
            {
                "block": [int(key[0])],
                "ids": [ids],
                "mat": [mn.ravel()],
                "n": [len(ids)],
                "dim": [m.shape[1]],
            }
        )

    # materialize the packed table once — a and b below are two consumers
    # and Catalyst does not reuse the applyInPandas exchange across join
    # branches. Note the EAGER localCheckpoint tradeoffs: (1) constructing
    # this DataFrame runs the pack job immediately, before any collect;
    # (2) unlike persist(), checkpoint blocks are NOT recomputed on
    # executor loss — on a real cluster prefer persist(DISK_ONLY) or a
    # checkpoint to reliable storage if executors may die mid-query.
    packed = e.groupBy("block").applyInPandas(pack, pack_schema).localCheckpoint()
    a = packed.select(
        F.col("block").alias("block_a"),
        F.explode(F.sequence(F.col("block"), F.lit(n_blocks - 1))).alias("block_b"),
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"), F.col("n").alias("n_a"),
        F.col("dim").alias("dim_a"),
    )
    b = packed.select(
        F.explode(F.sequence(F.lit(0), F.col("block"))).alias("block_a"),
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"), F.col("n").alias("n_b"),
        F.col("dim").alias("dim_b"),
    )
    blk = a.join(b, ["block_a", "block_b"])

    def gemm(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for r in pdf.itertuples(index=False):
                ia = np.asarray(r.ids_a, dtype=np.int64)
                ib = np.asarray(r.ids_b, dtype=np.int64)
                ma = np.asarray(r.mat_a).reshape(r.n_a, r.dim_a)
                mb = np.asarray(r.mat_b).reshape(r.n_b, r.dim_b)
                c = ma @ mb.T
                with np.errstate(invalid="ignore"):
                    ii, jj = np.nonzero(c >= threshold)
                if len(ii) == 0:
                    continue
                id1, id2, cs = ia[ii], ib[jj], c[ii, jj]
                if r.block_a == r.block_b:
                    # diagonal block: c holds BOTH (i,j) and (j,i) — keep
                    # the ordered one (also drops the self diagonal)
                    keep = id1 < id2
                    lo, hi = id1, id2
                else:
                    # off-diagonal: each pair appears once; just order ids
                    keep = slice(None)
                    lo = np.minimum(id1, id2)
                    hi = np.maximum(id1, id2)
                out_a.append(lo[keep])
                out_b.append(hi[keep])
                out_c.append(cs[keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return blk.mapInPandas(gemm, "id_a long, id_b long, cos double")


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: returns (scale, qvec) with
    ``scale = 127 / max(|v|)`` and ``qvec[i] = floor(v[i]·scale + 0.5)``
    (explicit floor(+0.5) half-up — identical in every engine, unlike
    engine-native ROUND ties). Dequantize as ``qvec / scale``.

    This is the storage/scale path for ANN at 100 TB: int8 cuts embedding
    bytes 4× (and SIMD distance cost with it) at a recall loss measured by
    the reconstruction cosine — all pure Column arithmetic, map-only.
    """
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / max_abs
    # re-derive scale inside the lambda (Column closures are expressions,
    # evaluated per element — Catalyst CSEs the repeated subtree)
    qvec = F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("double")
    )
    return scale, qvec


def quantize_int4_block(vec: Column, dim: int, block: int = 16) -> Column:
    """Blockwise symmetric int4 quantization (the GPTQ/bitsandbytes
    block-absmax convention): split the vector into ``dim/block`` blocks,
    scale each by its own absmax so codes use the full [-7, 7] range
    per block — one outlier coordinate no longer flattens the whole
    vector the way it does under sq1's per-vector int8 scale. Returns
    the per-block absmax array (scale_b = amax_b/7 is the dequantize
    step); ``recon_int4_block`` builds the dequantized reconstruction
    ``floor(v_i·(7/amax_b) + 0.5)·(amax_b/7)`` on top of it — explicit
    floor(+0.5) half-up and multiply-by-quotient on both engines (no
    engine-native ROUND ties, no second division). |v_i·7/amax_b| ≤ 7
    by construction, so no clamp is needed (floor(±7 + 0.5) stays in
    range).

    Callers must STAGE ``amax`` as a projected column before building
    ``recon`` on top of it (the sim3b/ivf staging lesson — inlining
    re-evaluates the 16-element absmax per element). Map-only Column
    arithmetic; 8× storage cut at 100 TB with per-block fidelity.
    """
    if dim % block != 0:
        raise ValueError(
            f"quantize_int4_block: dim={dim} not divisible by block={block} "
            "(tail coordinates would be silently dropped and recon would "
            "index past the absmax array)"
        )
    n_blocks = dim // block
    amax = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda b: F.array_max(
            F.transform(
                F.slice(vec, (b * block + 1).cast("int"), block),
                lambda x: F.abs(x.cast("double")),
            )
        ),
    )
    return amax


def recon_int4_block(
    vec: Column, amax: Column, dim: int, block: int = 16
) -> Column:
    """The dequantized int4 reconstruction over a STAGED ``amax`` column —
    see ``quantize_int4_block``."""
    if dim % block != 0:
        raise ValueError(
            f"recon_int4_block: dim={dim} not divisible by block={block} "
            "(element_at(amax, ...) would index past the absmax array for "
            "tail coordinates, yielding NULL reconstructions)"
        )
    def _r(i: Column) -> Column:
        b = F.floor(i / F.lit(block)).cast("int") + 1
        s = F.element_at(amax, b)
        return (
            F.floor(
                F.element_at(vec, i.cast("int") + 1).cast("double")
                * (F.lit(7.0) / s)
                + F.lit(0.5)
            )
            * (s / F.lit(7.0))
        )

    return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), _r)


# Estimated serial multiply-adds below which _fit_subspace_codebooks runs
# its loop in-process instead of as a Spark job (see its docstring).
_PARALLEL_FIT_MIN_FLOPS = 2e9


def _kmeanspp_lloyd(X, ks: int, seed: int, iters: int = 25):
    """Deterministic seeded k-means++ init + Lloyd iterations in numpy —
    the PQ sub-codebook trainer. Driver-side by design: codebooks need
    thousands of points, not the corpus (FAISS trains PQ on bounded
    samples), and 16 tiny numpy fits cost milliseconds where 16
    distributed KMeans fits cost a job set each. Empty clusters keep
    their previous center (deterministic, no reseeding randomness)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(X)
    centers = np.empty((ks, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, ks):
        tot = d2.sum()
        if tot > 0:
            centers[j] = X[rng.choice(n, p=d2 / tot)]
        else:  # fewer distinct points than ks — duplicate centers are fine
            centers[j] = X[rng.integers(n)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    xsq = (X**2).sum(axis=1)[:, None]
    ids = np.arange(ks)
    # r12: the distance matrix is rebuilt every iteration; preallocate it
    # once and evaluate the SAME expression in-place (matmul → ×2 → xsq−M
    # → +csq, the exact operation order of
    # ``xsq - 2.0*(X @ centers.T) + csq``), which removes three (n, ks)
    # temporaries per iteration. Bit-identical values, ~2x fewer allocs.
    M = np.empty((n, ks), dtype=np.float64)
    for _ in range(iters):
        np.matmul(X, centers.T, out=M)
        np.multiply(M, 2.0, out=M)
        np.subtract(xsq, M, out=M)
        np.add(M, (centers**2).sum(axis=1)[None, :], out=M)
        assign = M.argmin(axis=1)
        # r12: one stable sort + per-cluster slice means instead of ks
        # boolean-mask scans (the O(ks·n) compare loop dominated the fit —
        # 25 iters × 64 masks; sim5/sim5b paid ~4 s/driver fit at sf0.1).
        # BIT-IDENTICAL to `X[assign == j].mean(0)`: a stable argsort
        # yields each cluster's rows in ascending index order, exactly the
        # order the boolean mask produced, so .mean reduces the same
        # values in the same order.
        order = np.argsort(assign, kind="stable")
        sa = assign[order]
        starts = np.searchsorted(sa, ids, side="left")
        ends = np.searchsorted(sa, ids, side="right")
        for j in range(ks):
            if ends[j] > starts[j]:
                centers[j] = X[order[starts[j] : ends[j]]].mean(axis=0)
    return centers


def _fit_subspace_codebooks(spark, Xs, m_subs: int, ks: int, seed: int):
    """Fit the ``m_subs`` INDEPENDENT per-subspace PQ codebooks as one
    Spark job — one task per subspace — instead of a serial driver loop
    (r12, VERDICT r11 #6; guide §2.6 overlap-independent-work). The fits
    don't interact, so the wall drops from Σ(fit) to ~max(fit) + one job
    of overhead, and the driver stops being a serial CPU bottleneck
    (measured: 16 serial fits = 3.9 s at sf0.1's 2k-row sample, 20-31 s
    at sf1's 16k-row sample — the whole pq_live cost VERDICT r11 #4
    flagged). Each task runs the IDENTICAL ``_kmeanpp_lloyd`` call the
    serial loop ran (same slice, same ``seed + s``) in the same
    numpy/OpenBLAS build, so the codebooks are bit-identical — pinned-
    literal provenance (tools/probe_refit_pq_codebooks.py) is unaffected. The
    sample ships once as a broadcast (fit_sample-bounded: ≤16384×dim
    doubles, ~8 MB).

    Below ``_PARALLEL_FIT_MIN_FLOPS`` of estimated serial work the loop
    runs serially in-process instead: the Spark job costs ~0.5-1 s of
    dispatch+broadcast overhead, which EXCEEDS the win on small fits
    (A/B at the bench shapes: sf0.1 2k-row sample serial 1.6 s vs
    parallel 1.9 s cold; sf1 16k-row sample serial 5.7 s vs parallel
    0.9 s warm — 6.4x). Both modes are bit-identical (asserted in the
    A/B and in tests), so the dispatch can never change a result."""
    import numpy as np

    dsub = Xs.shape[1] // m_subs
    # ~multiply-adds of the serial loop: iters x n x ks x dsub x 2 per
    # subspace. Threshold ≈ 2e9 ≈ 2 s serial on this class of host.
    est_flops = 25.0 * Xs.shape[0] * ks * dsub * 2.0 * m_subs
    if est_flops < _PARALLEL_FIT_MIN_FLOPS:
        return np.stack(
            [
                _kmeanspp_lloyd(Xs[:, s * dsub : (s + 1) * dsub], ks, seed + s)
                for s in range(m_subs)
            ]
        )
    sc = spark.sparkContext
    b_xs = sc.broadcast(Xs)

    def fit(s: int):
        x = b_xs.value
        return s, _kmeanspp_lloyd(x[:, s * dsub : (s + 1) * dsub], ks, seed + s)

    try:
        parts = dict(sc.parallelize(range(m_subs), m_subs).map(fit).collect())
    finally:
        b_xs.unpersist()
    return np.stack([parts[s] for s in range(m_subs)])


def _ltr_dot(A, B):
    """Left-to-right dot product over the LAST axis of two broadcastable
    numpy arrays — explicit elementwise multiply + add chain, NO BLAS and
    no FMA, so every intermediate is a correctly-rounded IEEE754 double in
    strict left-to-right order. This makes ADC scores bit-identical to
    any engine that accumulates dot products sequentially (DuckDB's
    list_dot_product — proven against Spark's ltr ``aggregate`` by the
    d11b/sim oracles), which is what lets sim5c put the PQ pruning itself
    under a full hash compare. Cost: dsub(=4) elementwise ops per call —
    negligible next to the Arrow transfer."""
    acc = A[..., 0] * B[..., 0]
    for i in range(1, A.shape[-1]):
        acc = acc + A[..., i] * B[..., i]
    return acc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subs: int = 8,
    ks: int = 16,
    rerank: int | str = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 16384,
    codebooks: list | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou, Douze & Schmid 2011
    — the FAISS IVFADC family's compression half; sits between sim1's
    exact scan and sim3's IVF pruning in the engine's ANN ladder).

    Train: the dim-D unit-normalized space splits into ``m_subs``
    subspaces; one seeded numpy k-means++/Lloyd fit per subspace learns a
    ``ks``-centroid codebook from a DETERMINISTIC bounded sample — the
    ``fit_sample`` hash-smallest corpus rows (xxhash64 order, id
    tie-break: one TakeOrdered job, partition-layout-independent). That
    replaces r6-r8's 16 distributed MLlib fits, which dominated pq_topk
    wall (34.5 s at sf0.01 in the r8 verify gate): codebooks need
    thousands of points, not the corpus — FAISS trains PQ the same way —
    so at ANY corpus scale training is one bounded sample job plus
    milliseconds of driver numpy. Encode: each corpus vector becomes
    ``m_subs`` small codes via one Arrow-batched argmin — the corpus
    compresses to m_subs bytes/vector at ks≤256 (64-dim float32 → 8 B:
    32×), which is what lets a 100 TB embedding corpus live in cluster
    memory. Search is ADC (asymmetric distance computation): per query one
    (m_subs × ks) dot-product lookup table against the RAW query vector;
    approx score = Σ_m LUT[m, code_m] — table lookups, no float math per
    candidate. Scan shape (r13): ONE fused ``mapInPandas`` pass over the
    unit corpus — encode, ADC lookup, per-partition top-R, and the exact
    re-rank cosine of the per-batch survivors (the standard ADC
    refinement step, absorbed: the batch already holds the true vectors,
    so refinement costs no second corpus scan and no join) — queries'
    LUTs in the closure (queries are an operationally small batch, like
    ``cosine_topk``'s broadcast side), then per-query windows over the
    ≤ partitions·n_q·R survivors: cut to R by approx, rank by exact cos.
    No corpus shuffle anywhere; the corpus crosses the Python boundary
    exactly once.

    Output matches sim1/sim3: (query_id, neighbor_id, cos, rank) with the
    exact cosine for surviving candidates.

    Zero-norm contract (same as ``ivf_topk``): zero-norm rows are EXCLUDED
    from both corpus and queries, so a zero-norm query yields no output
    rows — callers may see fewer distinct ``query_id``s than input queries.

    ``rerank="auto"`` (r11, the production default — VERDICT r10 #3):
    the re-rank multiplier scales with corpus size as
    ``max(16, ceil(16 · (n/2000)^log10(2)))`` — it DOUBLES per decade of
    corpus growth, the constants read directly off the measured drift
    curve (ANN_RECALL_SCALE.json: pinned codebooks need rerank 16 for
    recall 0.98 at n≈2.0k and rerank 32 for 1.00 at n≈20.0k on the
    adversarial out-of-fit union). Fixing the multiplier is what let
    recall drift 0.98 → 0.84 at 10×; auto holds ≥ 0.95 at both measured
    scales with no manual tuning, and stays sublinear (n=10⁹ → ~830·k
    exact re-ranks per query — still a rounding error next to the scan).
    Costs one count job on the checkpointed corpus.

    Pinned-codebook mode: pass ``codebooks`` (m_subs × ks × dsub) to skip
    the fit and quantize with a FROZEN codebook (the production shape —
    FAISS trains PQ once and ships the index). All ADC arithmetic —
    sub-centroid norms, encode argmin, LUT dots, the per-candidate
    LUT-sum — is strict left-to-right double arithmetic (``_ltr_dot`` +
    explicit add chains, no BLAS/FMA/pairwise reduction), so with literal
    codebooks every approximate score is an engine-portable IEEE754 value
    and ``sim5c_pq_pinned_topk``'s DuckDB oracle restates the ENTIRE
    pruned ADC search, not just an exact twin.
    """
    import numpy as np

    def unit(vec: Column) -> Column:
        return F.transform(vec, lambda x: F.try_divide(x.cast("double"), _norm(vec)))

    # zero-norm vectors have no direction — not rankable by cosine, and
    # their null unit-elements would poison the codebook fits; exclude
    # both sides up front (same contract as ivf_topk; test corpora
    # contain none, so the exact-twin oracle is unaffected)
    corpus = corpus.filter(_norm(F.col(vec_col)) > 0)
    queries = queries.filter(_norm(F.col(vec_col)) > 0)
    c_unit = corpus.select(
        F.col(id_col).alias("neighbor_id"), unit(F.col(vec_col)).alias("v")
    )
    # checkpoint only when the frame has >1 consumer (the multi-consumer
    # rule): live fit adds a sample job, rerank="auto" adds a count job.
    # The PINNED fixed-rerank path (sim5c) has exactly one consumer — the
    # fused scan below — so a checkpoint there is a pure extra
    # materialization pass (r13: the r12 shape also re-scanned for the
    # exact re-rank join, which the fused scan absorbed).
    if codebooks is None or rerank == "auto":
        c_unit = c_unit.localCheckpoint(eager=True)  # train(sample)+count+scan

    if rerank == "auto":
        # scale-adaptive budget from the measured drift curve (see
        # docstring); count is a cheap job over the checkpoint
        import math

        n_corpus = c_unit.count()
        rerank = max(16, math.ceil(16 * max(n_corpus / 2000.0, 1.0) ** 0.30103))
    elif not isinstance(rerank, int):
        raise ValueError(f"rerank must be an int or 'auto', got {rerank!r}")

    if codebooks is not None:
        cb = np.asarray(codebooks, dtype=np.float64)  # (m_subs, ks, dsub)
        if cb.shape[0] != m_subs or cb.shape[1] != ks:
            raise ValueError(
                f"pinned codebooks shape {cb.shape} != ({m_subs}, {ks}, dsub)"
            )
        dsub = cb.shape[2]
        dim = m_subs * dsub
    else:
        # --- train: numpy k-means++ per subspace on a bounded hash sample
        samp_rows = (
            c_unit.orderBy(F.pmod(F.xxhash64("neighbor_id"), F.lit(1_000_003)).asc(),
                           F.col("neighbor_id").asc())
            .limit(fit_sample)
            .collect()
        )  # TakeOrderedAndProject: per-partition heap, deterministic sample
        Xs = np.asarray([r["v"] for r in samp_rows], dtype=np.float64)
        dim = Xs.shape[1]
        if dim % m_subs != 0:
            raise ValueError(f"m_subs={m_subs} must divide dim={dim}")
        dsub = dim // m_subs
        # one Spark job, one task per subspace — bit-identical to the old
        # serial driver loop (see _fit_subspace_codebooks)
        cb = _fit_subspace_codebooks(
            corpus.sparkSession, Xs, m_subs, ks, seed
        )  # (m_subs, ks, dsub)
    # ‖codeword‖² via plain python left-to-right sums — the exact doubles
    # the sim5c oracle builder embeds as literals (repr round-trips)
    cnorm = np.array(
        [
            [float(sum(float(x) * float(x) for x in cw)) for cw in cb[s]]
            for s in range(m_subs)
        ]
    )  # (m_subs, ks)

    # --- fused encode + ADC scan + exact re-rank (r13): one Arrow pass ---
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), unit(F.col(vec_col)).alias("v")
    ).collect()
    if not q_rows:
        # empty query set: np.asarray([]) is 1-D, so the LUT build below
        # would IndexError — the right answer is an empty result with the
        # contract schema (the scan's id types)
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    q_ids = np.array([r["query_id"] for r in q_rows])
    Q = np.asarray([r["v"] for r in q_rows], dtype=np.float64)
    Qs = Q.reshape(len(q_rows), m_subs, dsub)
    # LUT[q, m, c] = q_sub · centroid  →  approx cos = Σ_m LUT[q, m, code_m]
    # (_ltr_dot, not einsum: each entry must be the same IEEE754 double
    # DuckDB's list_dot_product produces for the sim5c oracle)
    lut = np.stack(
        [_ltr_dot(Qs[:, s, None, :], cb[s][None, :, :]) for s in range(m_subs)],
        axis=1,
    )  # (nq, m, ks)
    R = max(k, rerank * k)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)  # (B, dim)
            # pre-sort by neighbor id: the per-batch cut below must break
            # approx-score ties to the LOWEST id (two vectors with the
            # same 16 codes have bit-identical ADC sums), matching the
            # global merge window and the sim5c oracle's ORDER BY approx
            # DESC, neighbor_id ASC — argpartition alone resolved such
            # ties arbitrarily
            order = np.argsort(ids, kind="stable")
            ids, X = ids[order], X[order]
            # encode in-batch: ||x - c||² argmin == argmin(||c||² - 2x·c)
            # per subspace (the constant ||x||² drops out); numpy argmin
            # takes the FIRST minimum == SQL's ORDER BY d, code tie-break.
            # _ltr_dot keeps the scores engine-portable. Identical
            # arithmetic to the r12 encode pandas_udf — fused here so the
            # codes never cross back into the JVM (guide §4: one Python
            # boundary, not two).
            Xsub = X.reshape(X.shape[0], m_subs, dsub)
            C = np.empty((X.shape[0], m_subs), dtype=np.int64)
            for s in range(m_subs):
                d = cnorm[s] - 2.0 * _ltr_dot(Xsub[:, s, None, :], cb[s][None, :, :])
                C[:, s] = d.argmin(axis=1)
            # gather: S[q, b] = Σ_m lut[q, m, C[b, m]] — arange(m) ⊗ C(B,m)
            # broadcast to (B, m), slice dim0 keeps q → (nq, B, m); the sum
            # over m is an explicit left-to-right add chain (oracle-portable)
            G = lut[:, np.arange(m_subs), C]
            S = G[..., 0]
            for s in range(1, m_subs):
                S = S + G[..., s]
            top = min(R, S.shape[1])
            idx = np.argsort(-S, axis=1, kind="stable")[:, :top]
            # exact cosine for the per-batch survivors, in the SAME strict
            # left-to-right chain as the F.aggregate fold it replaces
            # (_ltr_dot is the proven ltr-equivalent of Spark's aggregate
            # and DuckDB's list_dot_product) — the batch already holds the
            # true vectors, so the r12 re-rank join (a second corpus scan
            # + two broadcast joins) is absorbed into this pass. The
            # global top-R by (approx, id) is a subset of the per-batch
            # top-R union at ANY batch boundary, so the window below sees
            # every surviving candidate.
            cos = _ltr_dot(Q[:, None, :], X[idx])  # (nq, top)
            out = {
                "query_id": np.repeat(q_ids, top),
                "neighbor_id": ids[idx].ravel(),
                "approx": np.take_along_axis(S, idx, axis=1).ravel(),
                "cos": cos.ravel(),
            }
            yield pd.DataFrame(out)

    parts = c_unit.select("neighbor_id", "v").mapInPandas(
        scan, "query_id long, neighbor_id long, approx double, cos double"
    )
    # candidate cut by approx (the ADC semantics), then exact rank by cos —
    # both windows share one query_id exchange
    wr = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
    cands = parts.withColumn("r", F.row_number().over(wr)).filter(F.col("r") <= R)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    m_subs: int = 8,
    ks: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample: int = 16384,
    centroids: list[list[float]] | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """IVFADC — the composed production ANN shape (Jégou et al. 2011;
    FAISS ``IndexIVFPQ``): an inverted-file coarse quantizer routes each
    query to its ``n_probe`` nearest lists, and ONLY rows in probed lists
    are scored, by PQ asymmetric-distance lookup, then the top
    ``rerank·k`` survivors are exactly re-ranked. This composes the
    engine's two pruning halves — ``ivf_topk``'s routing (scan
    ~n_probe/n_lists of the corpus) and ``pq_topk``'s compression (scan
    bytes, not floats) — which is how a 100 TB embedding corpus is
    actually served: compressed codes resident in memory, per-query work
    bounded by probed-list size, exact math only on rerank·k rows.

    Codes are built on the RAW unit vectors, not list residuals
    (FAISS's ``by_residual=False`` mode): residual encoding couples the
    codebook to the router and is NOT what the sim5c-proven ltr-ADC
    arithmetic pins; the non-residual composition keeps every stage
    individually proven (routing = sim3b's exact form, ADC = sim5c's)
    so the COMPOSED pruned search is hash-oracle-able end to end.

    Pinned mode (both ``centroids`` and ``codebooks`` given) skips all
    fitting — the production shape, and the fully-oracled registry entry
    ``sim8_ivfadc_pinned_topk``. Live mode fits both quantizers on one
    bounded deterministic sample (the shared ``fit_sample``
    hash-smallest rows). Query probe ranking runs DRIVER-side on the
    collected query batch with ``_ltr_dot`` + python left-to-right
    ``sum(x*x)`` centroid norms — the identical IEEE754 doubles the
    oracle's ``cn - 2·list_dot_product(uv, c)`` literals produce, with
    numpy's stable argsort matching its d ASC, list ASC tie-break.

    Zero-norm contract: as ``ivf_topk``/``pq_topk`` — zero-norm rows are
    excluded from both sides.
    """
    import numpy as np

    def unit(vec: Column) -> Column:
        return F.transform(vec, lambda x: F.try_divide(x.cast("double"), _norm(vec)))

    corpus = corpus.filter(_norm(F.col(vec_col)) > 0)
    queries = queries.filter(_norm(F.col(vec_col)) > 0)
    # staged norm → unit → assignment (the ivf_topk codegen lesson); no
    # checkpoint: the live fit sample and the fused scan below each read
    # it once (see the note at c_routed)
    from consumer_loans_analysis_spark.operators.curation import kmeans_assign

    c_unit = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _norm(F.col(vec_col)).alias("_n"),
            F.col(vec_col).alias("_raw"),
        )
        .select(
            "neighbor_id",
            F.transform(
                F.col("_raw"), lambda x: F.try_divide(x.cast("double"), F.col("_n"))
            ).alias("v"),
        )
    )

    if centroids is None or codebooks is None:
        samp_rows = (
            c_unit.orderBy(F.pmod(F.xxhash64("neighbor_id"), F.lit(1_000_003)).asc(),
                           F.col("neighbor_id").asc())
            .limit(fit_sample)
            .collect()
        )
        Xs = np.asarray([r["v"] for r in samp_rows], dtype=np.float64)
    if centroids is None:
        import math

        n_lists = max(2, int(math.sqrt(max(len(Xs), 4))))
        centroids = [
            [float(x) for x in c] for c in _kmeanspp_lloyd(Xs, n_lists, seed)
        ]
    if codebooks is None:
        dim = len(centroids[0])
        if dim % m_subs != 0:
            raise ValueError(f"m_subs={m_subs} must divide dim={dim}")
        dsub = dim // m_subs
        # one Spark job, one task per subspace — bit-identical to the old
        # serial driver loop (see _fit_subspace_codebooks)
        cb = _fit_subspace_codebooks(corpus.sparkSession, Xs, m_subs, ks, seed)
    else:
        cb = np.asarray(codebooks, dtype=np.float64)
        if cb.shape[0] != m_subs or cb.shape[1] != ks:
            raise ValueError(
                f"pinned codebooks shape {cb.shape} != ({m_subs}, {ks}, dsub)"
            )
        dsub = cb.shape[2]
    n_lists = len(centroids)
    cnorm = np.array(
        [
            [float(sum(float(x) * float(x) for x in cw)) for cw in cb[s]]
            for s in range(m_subs)
        ]
    )

    # r13: no checkpoint — after the fused scan below absorbed the exact
    # re-rank join, this frame has exactly ONE consumer (the scan); in
    # live mode the fit sample was already collected from c_unit above,
    # so nothing is computed twice without it (the multi-consumer rule
    # cuts the other way here: a checkpoint would be a pure extra
    # materialization pass).
    c_routed = c_unit.select(
        "neighbor_id", "v", kmeans_assign(F.col("v"), centroids).alias("list_id")
    )

    # --- query side: probe ranking + ADC LUTs, driver-side --------------
    # ids keep their input type (r11 ADVICE: long was hardcoded, so string
    # vector ids crashed at runtime) — the mapInPandas schema and the
    # rebuilt query frame both derive from the actual schemas
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), unit(F.col(vec_col)).alias("v")
    ).collect()
    if not q_rows:
        # empty query set (r11 ADVICE: np.asarray([]) is 1-D, so the probe
        # distance broadcast below would IndexError) — the right answer is
        # an empty result with the contract schema
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {q_id_t}, neighbor_id {c_id_t}, cos double, rank int",
        )
    q_ids = np.array([r["query_id"] for r in q_rows])
    Q = np.asarray([r["v"] for r in q_rows], dtype=np.float64)
    cen = np.asarray(centroids, dtype=np.float64)
    cen_norm = np.array([float(sum(float(x) * float(x) for x in c)) for c in centroids])
    # d[q, l] = ‖c_l‖² − 2·u_q·c_l — sim3b's exact routing form; stable
    # argsort == the oracle's ORDER BY d ASC, list ASC
    dq = cen_norm[None, :] - 2.0 * _ltr_dot(Q[:, None, :], cen[None, :, :])
    probe_mask = np.zeros((len(q_rows), n_lists), dtype=bool)
    order = np.argsort(dq, axis=1, kind="stable")[:, :n_probe]
    np.put_along_axis(probe_mask, order, True, axis=1)
    Qs = Q.reshape(len(q_rows), m_subs, dsub)
    lut = np.stack(
        [_ltr_dot(Qs[:, s, None, :], cb[s][None, :, :]) for s in range(m_subs)],
        axis=1,
    )
    R = max(k, rerank * k)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            lids = pdf["list_id"].to_numpy()
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)  # (B, dim)
            order = np.argsort(ids, kind="stable")  # tie-break as pq_topk
            ids, lids, X = ids[order], lids[order], X[order]
            # encode in-batch — identical arithmetic to pq_topk's fused
            # scan (the r12 encode pandas_udf, fused so codes never cross
            # back into the JVM)
            Xsub = X.reshape(X.shape[0], m_subs, dsub)
            C = np.empty((X.shape[0], m_subs), dtype=np.int64)
            for s in range(m_subs):
                d = cnorm[s] - 2.0 * _ltr_dot(Xsub[:, s, None, :], cb[s][None, :, :])
                C[:, s] = d.argmin(axis=1)
            valid = probe_mask[:, lids]  # (nq, B): row in a probed list?
            G = lut[:, np.arange(m_subs), C]
            S = G[..., 0]
            for s in range(1, m_subs):
                S = S + G[..., s]
            S = np.where(valid, S, -np.inf)  # unprobed rows never rank
            top = min(R, S.shape[1])
            idx = np.argsort(-S, axis=1, kind="stable")[:, :top]
            keep = np.take_along_axis(valid, idx, axis=1).ravel()
            # exact cosine of the survivors in the same ltr chain as the
            # F.aggregate fold it replaces (see pq_topk)
            cos = _ltr_dot(Q[:, None, :], X[idx])  # (nq, top)
            out = {
                "query_id": np.repeat(q_ids, top)[keep],
                "neighbor_id": ids[idx].ravel()[keep],
                "approx": np.take_along_axis(S, idx, axis=1).ravel()[keep],
                "cos": cos.ravel()[keep],
            }
            yield pd.DataFrame(out)

    parts = c_routed.mapInPandas(
        scan, f"query_id {q_id_t}, neighbor_id {c_id_t}, approx double, cos double"
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
    cands = parts.withColumn("r", F.row_number().over(wr)).filter(F.col("r") <= R)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hard_negatives(
    emb: DataFrame,
    n_anchors: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: str = "sim7",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each of
    ``n_anchors`` deterministically-chosen anchor vectors, the single
    most-similar vector carrying a DIFFERENT label (cos DESC, id ASC
    tie-break) — the example most likely to be confused across the label
    boundary, which is exactly what contrastive/triplet batches want.
    Anchors are the hash-smallest ids (the o4b portable-sample idiom):
    mining is batched in production (per training step), so the anchor
    set — not the corpus — is the small side by design.

    Scale shape: the distinct labels are collected at construction
    (label cardinality is tiny by definition — the cosine_topk
    queries-batch contract) and each anchor map-side-EXPLODES over the
    other labels, so the corpus attaches below a broadcast EQUI-join on
    the label key — no nested-loop join anywhere in the plan. Each
    corpus row is scored against ~n_anchors vectors map-side; the top-1
    cut is a partial min-aggregate over struct(-cos, id) (map-side
    combine, #anchors final groups), so the corpus never shuffles —
    only n_anchors·#labels partial rows do. Cosines are the d11b-proven
    ltr ``aggregate`` pairing, so the whole mine sits under a full hash
    oracle."""
    from consumer_loans_analysis_spark.operators.text import portable_hash

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("lbl"), v.alias("v")
    )
    anchors = (
        base.select(
            F.col("id").alias("anchor_id"),
            F.col("lbl").alias("anchor_label"),
            F.col("v").alias("av"),
            portable_hash(F.col("id").cast("string"), seed=seed).alias("_h"),
        )
        .orderBy("_h", "anchor_id")
        .limit(n_anchors)
        .drop("_h")
    )
    # distinct labels collected at construction (the cosine_topk
    # queries-batch contract: label cardinality is tiny by definition) so
    # the anchor fan-out is a map-side explode — no nested-loop join
    # anywhere in the plan
    label_vals = [
        r["lbl"]
        for r in base.select(F.col("lbl")).distinct().collect()
    ]
    fan = anchors.withColumn(
        "neg_label",
        F.explode(
            F.array_remove(
                F.array(*[F.lit(x) for x in label_vals]), F.col("anchor_label")
            )
        ),
    )
    scored = base.join(
        F.broadcast(fan), F.col("lbl") == F.col("neg_label")
    ).select(
        "anchor_id", "anchor_label",
        F.struct(
            (-cosine(F.col("av"), F.col("v"))).alias("nc"),
            F.col("id").alias("neg_id"),
            F.col("lbl").alias("neg_label"),
        ).alias("s"),
    )
    # a zero-norm corpus vector makes cosine (try_divide) NULL; Spark's
    # struct-min sorts a NULL first field FIRST while the DuckDB oracle's
    # ORDER BY c DESC places NULLs last — drop degenerate vectors before
    # the struct-min. The sim7 oracle applies the SAME exclusion before
    # its window (WHERE c IS NOT NULL AND NOT isnan(c)), so an anchor
    # whose EVERY cross-label cosine is undefined is absent from both
    # engines alike (r10 ADVICE #1: without the oracle-side filter,
    # DuckDB would still emit a rk=1 NaN row for such an anchor).
    scored = scored.where(F.col("s.nc").isNotNull())
    best = scored.groupBy("anchor_id", "anchor_label").agg(F.min("s").alias("s"))
    return best.select(
        "anchor_id", "anchor_label",
        F.col("s.neg_id").alias("neg_id"),
        F.col("s.neg_label").alias("neg_label"),
        F.round(-F.col("s.nc"), 6).alias("cos"),
    )
