"""Similarity search over embedding columns (array<float>).

Every embedding top-k search — ``cosine_topk``, ``prefix_rerank_topk``,
``ivf_topk``, ``pq_topk`` and ``ivfadc_topk`` — is one generate, prune,
refine pass: ``_scan``, a single ``mapInPandas`` over the (id, raw vector)
rows of the non-zero-norm corpus. The query batch is operationally small,
so ``_query_side`` collects it to the driver and the scan closes over it.
Per Arrow batch the scan sorts rows by id and then runs up to three
optional stages before the exact one:

1. route (IVF centroids): assign each unit row to its nearest list and
   mask the rows outside the query's ``n_probe`` probed lists;
2. coarse score: the PQ asymmetric-distance lookup (codebooks) or the
   prefix cosine (``prefix_dim``), cut to the top R rows per query;
3. refine: the exact cosine of the survivors (of every routed row when
   there is no coarse score), cut to the top k.

``_merge`` ranks the <= batches·|q|·R survivors per query: an approx cut to
R when there is a coarse score, then the exact rank window. The corpus
never shuffles and crosses the Python boundary once. Live quantizers fit
on one bounded deterministic sample (``_fit_sample``); pinned ones are
passed in.

All scan arithmetic is strict left-to-right double arithmetic
(``_ltr_dot``, no BLAS/FMA), and the Column helpers (``cosine``,
``bucketed_topk``, ``embedding_near_dupes_exact``) accumulate left to right
through ``zip_with``/``aggregate``, so every score is the IEEE754 double the
DuckDB oracles' ``list_dot_product`` produces.

Every thresholded near-duplicate search — d5's ``embedding_near_dupes_blocked``
and ``curation.semantic_dedup``'s within-bucket pairs — is one GEMM kernel
instead, ``_near_pairs``: a membership cut at a threshold tolerates BLAS
rounding where a top-k cut does not (see ``embedding_near_dupes_blocked``).
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


def _ltr_dot(A, B):
    """Left-to-right dot product over the LAST axis of two broadcastable
    numpy arrays — explicit elementwise multiply + add chain, NO BLAS and
    no FMA, so every intermediate is a correctly-rounded IEEE754 double in
    strict left-to-right order. This makes scan scores bit-identical to
    any engine that accumulates dot products sequentially (DuckDB's
    list_dot_product, Spark's ltr ``aggregate``), which is what lets the
    sim oracles restate the pruned searches under a full hash compare.
    Cost: one elementwise op pair per element — negligible next to the
    Arrow transfer."""
    acc = A[..., 0] * B[..., 0]
    for i in range(1, A.shape[-1]):
        acc = acc + A[..., i] * B[..., i]
    return acc


def _unit(X):
    """Row-wise unit vectors: the same doubles as the Column form
    ``x / sqrt(aggregate(v, 0.0, acc + x·x))``."""
    import numpy as np

    return X / np.sqrt(_ltr_dot(X, X))[:, None]


def _list_dist(U, cen):
    """(rows, lists) routing distances ‖c‖² − 2·u·c: for unit u, squared L2
    minus the constant ‖u‖², so argmin and ranking match. The corpus
    assignment and the query probe ranking share this one form, which the
    sim3b/sim8 oracles restate over the same literals."""
    return _ltr_dot(cen, cen)[None, :] - 2.0 * _ltr_dot(U[:, None, :], cen[None])


def _fit_sample(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    fit_sample: int = 16384,
):
    """Unit vectors of the ``fit_sample`` hash-smallest non-zero-norm corpus
    rows (xxhash64 order, id tie-break): one TakeOrdered job, independent of
    the partition layout. Every live quantizer fit trains on it, and the
    pinned quantizers were fit on it (``tools/probe_refit_*``). Codebooks
    and centroids need thousands of points, not the corpus, so training
    cost is bounded at any scale. Empty when the corpus has no rankable
    row."""
    import numpy as np

    rows = (
        corpus.filter(_norm(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("sid"), F.col(vec_col).alias("v"))
        .orderBy(F.pmod(F.xxhash64("sid"), F.lit(1_000_003)).asc(), F.col("sid").asc())
        .limit(fit_sample)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    return _unit(X) if len(X) else X


def _query_side(corpus, queries, id_col, vec_col, cen, n_probe, cb):
    """Collect the non-zero-norm query batch and build its per-query scan
    state: raw and unit vectors, the probed-list mask (with centroids) and
    the ADC lookup table (with codebooks). Returns ``(schema, state)``: the
    output id types come from the two input schemas, so long and string
    ids both work; ``state`` is None for an empty batch."""
    import numpy as np

    schema = (
        f"query_id {queries.schema[id_col].dataType.simpleString()}, "
        f"neighbor_id {corpus.schema[id_col].dataType.simpleString()}"
    )
    rows = (
        queries.filter(_norm(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("v"))
        .collect()
    )
    if not rows:
        return schema, None
    Q = np.asarray([r["v"] for r in rows], dtype=np.float64)
    q = {"ids": np.array([r["qid"] for r in rows]), "Q": Q, "U": _unit(Q)}
    if cen is not None:
        # a stable argsort is the oracles' ORDER BY d ASC, list ASC
        d = _list_dist(q["U"], cen)
        q["probe"] = np.zeros(d.shape, dtype=bool)
        lists = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        np.put_along_axis(q["probe"], lists, True, axis=1)
    if cb is not None:
        # LUT[q, m, c] = u_q[m] · codeword[m, c]; approx = Σ_m LUT[q, m, code_m]
        m_subs, _, dsub = cb.shape
        q["lut"] = _ltr_dot(q["U"].reshape(len(Q), m_subs, 1, dsub), cb[None])
    return schema, q


def _scan(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str,
    R: int | None = None, prefix_dim: int | None = None,
    centroids=None, n_probe: int = 0, codebooks=None,
) -> DataFrame:
    """The one top-k scan (see the module docstring). Each batch emits its
    local top-R per query by the coarse score (top-k by the exact cosine
    when there is none) with the exact cosine attached. Rows are id-sorted
    first, so a stable argsort breaks score ties to the lowest id — the
    merge windows' and the oracles' ORDER BY score DESC, id ASC — and the
    union of per-batch cuts always holds the global cut.

    The exact score keeps each oracle's form: the ADC paths (codebooks)
    score the unit·unit dot of the space their codes live in; the others
    score the raw dot/(‖q‖·‖c‖)."""
    import numpy as np

    cen = None if centroids is None else np.asarray(centroids, dtype=np.float64)
    cb = None if codebooks is None else np.asarray(codebooks, dtype=np.float64)
    schema, q = _query_side(corpus, queries, id_col, vec_col, cen, n_probe, cb)
    if q is None:
        return corpus.sparkSession.createDataFrame([], schema + ", cos double, rank int")
    coarse = cb is not None or prefix_dim is not None
    cut = R if coarse else k
    q_ids, Q, QU = q["ids"], q["Q"], q["U"]
    qn = np.sqrt(_ltr_dot(Q, Q))
    if cb is not None:
        m_subs, _, dsub = cb.shape
        cnorm = _ltr_dot(cb, cb)  # (m_subs, ks)
    if prefix_dim is not None:
        Qp = Q[:, :prefix_dim]
        qpn = np.sqrt(_ltr_dot(Qp, Qp))

    def exact(X, cn, U, rows):
        if cb is not None:
            return _ltr_dot(QU[:, None, :], U[rows])
        return _ltr_dot(Q[:, None, :], X[rows]) / (qn[:, None] * cn[rows])

    def scan(batches):
        for pdf in batches:
            ids = pdf["nid"].to_numpy()
            if len(ids) == 0:
                continue
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)[order]
            cn = np.sqrt(_ltr_dot(X, X))
            U = X / cn[:, None]
            valid = np.ones((len(q_ids), len(ids)), dtype=bool)
            if cen is not None:
                # argmin takes the first minimum: ties to the lowest list
                valid = q["probe"][:, _list_dist(U, cen).argmin(axis=1)]
            if cb is not None:
                # encode: per subspace argmin of ‖c‖² − 2·x·c, then the
                # LUT-sum as an explicit left-to-right add chain
                Us = U.reshape(len(ids), m_subs, dsub)
                C = np.empty((len(ids), m_subs), dtype=np.int64)
                for s in range(m_subs):
                    d = cnorm[s] - 2.0 * _ltr_dot(Us[:, s, None, :], cb[s][None, :, :])
                    C[:, s] = d.argmin(axis=1)
                G = q["lut"][:, np.arange(m_subs), C]  # (nq, B, m_subs)
                S = G[..., 0]
                for s in range(1, m_subs):
                    S = S + G[..., s]
            elif prefix_dim is not None:
                P = X[:, :prefix_dim]
                with np.errstate(invalid="ignore", divide="ignore"):
                    S = _ltr_dot(Qp[:, None, :], P[None]) / (
                        qpn[:, None] * np.sqrt(_ltr_dot(P, P))
                    )
                valid &= ~np.isnan(S)  # a zero-norm prefix has no direction
            else:
                S = exact(X, cn, U, np.arange(len(ids))[None, :])
            S = np.where(valid, S, -np.inf)
            top = min(cut, len(ids))
            idx = np.argsort(-S, axis=1, kind="stable")[:, :top]
            hit = np.take_along_axis(valid, idx, axis=1).ravel()
            best = np.take_along_axis(S, idx, axis=1)
            out = {
                "query_id": np.repeat(q_ids, top)[hit],
                "neighbor_id": ids[idx].ravel()[hit],
            }
            if coarse:
                out["approx"] = best.ravel()[hit]
                best = exact(X, cn, U, idx)
            out["cos"] = best.ravel()[hit]
            yield pd.DataFrame(out)

    parts = (
        corpus.filter(_norm(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("v"))
        .mapInPandas(scan, schema + (", approx double" if coarse else "") + ", cos double")
    )
    return _merge(parts, k, R if coarse else None)


def _merge(scored: DataFrame, k: int, R: int | None = None) -> DataFrame:
    """Per-query merge of scored candidates: with a coarse score, first cut
    to the top R by ``approx``; then rank by exact ``cos`` and keep k. Both
    windows share one query_id exchange, and Spark plans a partial
    WindowGroupLimit ahead of it."""
    if R is not None:
        wr = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
        scored = scored.withColumn("r", F.row_number().over(wr)).filter(F.col("r") <= R)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (ties broken by
    neighbor id): the scan with no optional stage. Each batch keeps its
    local top-k per query, so the merge window sees <= batches·|q|·k rows
    and no corpus-sized window exists. Linear in corpus size — the
    correctness baseline.

    Zero-norm contract (every search here): zero-norm rows are EXCLUDED
    from both sides up front — cosine is undefined for them — so a
    zero-norm query produces no output rows.
    """
    return _scan(corpus, queries, k, id_col, vec_col)


def prefix_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Progressive (funnel) retrieval: coarse top-R on the cosine of the
    first ``prefix_dim`` dimensions, exact full-dimension re-rank of the R =
    ``rerank·k`` survivors — the Matryoshka-representation adaptive-
    retrieval recipe (Kusupati et al. 2022: shortlist with a cheap prefix
    embedding, fix the ranking with the full one).

    Unlike IVF/PQ this path has NO trained state at all: the candidate
    set is a pure function of the data, so the approximate search itself
    (not a full-probe twin) carries a full SQL oracle.

    Zero-norm contract: a row or query whose first prefix_dim dims are all
    zero has no prefix cosine and is unfindable by design — the funnel's
    standard failure mode, absent from the test corpora.
    """
    return _scan(
        corpus, queries, k, id_col, vec_col, R=max(k, rerank * k), prefix_dim=prefix_dim
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
    return _merge(scored, k)


def embedding_near_dupes_exact(
    embeddings: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs embedding-cosine near-duplicates ≥ threshold as one Column
    theta join. O(n²) — the correctness reference for the GEMM paths
    (``embedding_near_dupes_blocked``, ``curation.semantic_dedup``)."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
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
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    over the corpus; each query is scored only against rows in its
    ``n_probe`` nearest lists (the scan's route stage, then the exact
    cosine). Recall rises with n_probe; n_probe = n_lists is exact search.

    Train cost is one bounded deterministic sample (``_fit_sample``) plus a
    seeded driver-side numpy k-means++/Lloyd fit. ``n_lists`` defaults to
    √(sample size), which is √n for any corpus within the sample bound.

    Spherical variant: vectors are L2-normalized before clustering and
    routing, so euclidean-nearest-list == cosine-nearest-list (plain L2
    IVF misroutes cosine queries when vector norms vary).

    Pinned-quantizer mode: pass ``centroids`` to skip the fit and route with
    a FROZEN coarse quantizer (the production shape — quantizers are
    trained once and shipped; FAISS's index_factory does the same). With
    literal centroids the assignment, probe ranking and pruning are a
    deterministic, SQL-expressible function of the data, which gives
    ``sim3b_ivf_pinned_topk`` a full DuckDB hash oracle over its PRUNED
    5-of-8-probe path (sim4 only oracles the exhaustive-probe twin).
    """
    import math

    if centroids is None:
        Xs = _fit_sample(corpus, id_col, vec_col)
        if not len(Xs):  # nothing rankable: the plain scan returns empty
            return _scan(corpus, queries, k, id_col, vec_col)
        centroids = _kmeanspp_lloyd(Xs, n_lists or max(2, math.isqrt(len(Xs))), seed)
    elif n_lists is not None and n_lists != len(centroids):
        raise ValueError(
            f"n_lists={n_lists} conflicts with {len(centroids)} pinned "
            "centroids — pass one or the other"
        )
    return _scan(
        corpus, queries, k, id_col, vec_col, centroids=centroids, n_probe=n_probe
    )


# Rows of the left block per GEMM tile (and columns of the right block):
# a tile's score matrix is at most _PAIR_TILE² doubles (8 MB), whatever the
# size of the blocks or buckets being paired.
_PAIR_TILE = 1024


def _near_pairs(threshold: float, a: pd.DataFrame, b: pd.DataFrame | None = None):
    """The one near-duplicate pair kernel: every ``(id_a < id_b, cos)`` with
    ``cos ≥ threshold`` between the (``id``, ``v``) rows of ``a`` and ``b``,
    or among the rows of ``a`` when ``b`` is None. Rows are unit-normalized
    in numpy and scored by GEMM in fixed ``_PAIR_TILE`` tiles, so the score
    matrix never grows with the square of a block. Zero-norm rows are
    dropped first (cosine is undefined for them), so they never qualify —
    the Column path's try_divide → NULL. A self search scores only the tiles
    on or above the diagonal and keeps the strict upper triangle, so each
    pair comes out once and no row pairs with itself."""
    import numpy as np

    def unit(pdf):
        ids = pdf["id"].to_numpy()
        if not len(ids):
            return ids, np.empty((0, 0))
        X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        nz = n > 0
        return ids[nz], X[nz] / n[nz, None]

    ia, Ua = unit(a)
    ib, Ub = (ia, Ua) if b is None else unit(b)
    lo, hi, cs = [ia[:0]], [ib[:0]], [np.empty(0)]
    for i0 in range(0, len(ia), _PAIR_TILE):
        for j0 in range(i0 if b is None else 0, len(ib), _PAIR_TILE):
            c = Ua[i0 : i0 + _PAIR_TILE] @ Ub[j0 : j0 + _PAIR_TILE].T
            ii, jj = np.nonzero(c >= threshold)
            if b is None:
                keep = jj + j0 > ii + i0
                ii, jj = ii[keep], jj[keep]
            x, y = ia[ii + i0], ib[jj + j0]
            first = x < y
            keep = x != y  # rows sharing an id are not a pair (id_a < id_b)
            lo.append(np.where(first, x, y)[keep])
            hi.append(np.where(first, y, x)[keep])
            cs.append(c[ii, jj][keep])
    return pd.DataFrame(
        {"id_a": np.concatenate(lo), "id_b": np.concatenate(hi), "cos": np.concatenate(cs)}
    )


def _pair_schema(df: DataFrame, id_col: str) -> str:
    t = df.schema[id_col].dataType.simpleString()
    return f"id_a {t}, id_b {t}, cos double"


def embedding_near_dupes_blocked(
    embeddings: DataFrame, threshold: float = 0.45,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_blocks: int = 32,
) -> DataFrame:
    """EXACT all-pairs cosine pairs ≥ threshold via block-partitioned matrix
    multiplication (the BLAS path).

    Why not candidate pruning: LSH banding prunes in proportion to the gap
    between matching-pair and random-pair bit-agreement. At a LOW cosine
    threshold sitting near the random-pair distribution (this testdata:
    matches from 0.4501, non-matches up to 0.4497 — measured), per-band
    selectivity collapses to ~3× and candidate volume approaches all-pairs
    × bands — LSH does strictly more work than brute force (SCALING.md: 689 s
    against this path's 2.9 s at sf1). Exact low-margin all-pairs is Θ(n²)
    no matter what; the right move is to pay n² at dense-BLAS constants
    instead of shuffle-join constants:

    - hash each row to one of ``n_blocks`` blocks, and key BOTH sides' rows
      by block pair (a-side: block i → keys (i, j≥i); b-side: block j →
      keys (i≤j, j)); ``cogroup`` on the composite key ships each row ~B/2
      times through a SHUFFLE, so a task holds exactly the two blocks of its
      pair. No broadcast: a broadcast side would ship the ENTIRE corpus to
      every executor, which no broadcast budget survives at scale;
    - ``_near_pairs`` per block pair: unit-normalize, tiled GEMM, emit only
      qualifying pairs (a diagonal pair (i, i) is block i's self search).

    Building the plan runs no Spark job. Cluster shape: parallelism =
    B(B+1)/2 block pairs spread by composite-key hash; per-task memory = two
    (n/B × dim) blocks plus one GEMM tile — size ``n_blocks`` so a block fits
    executor memory; shuffle volume = ~B × corpus, the price of exact Θ(n²).

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
    block = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks))
    rows = (F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = embeddings.select(
        block.alias("block_a"),
        F.explode(F.sequence(block, F.lit(n_blocks - 1))).alias("block_b"),
        *rows,
    )
    b = embeddings.select(
        F.explode(F.sequence(F.lit(0), block)).alias("block_a"),
        block.alias("block_b"),
        *rows,
    )

    def pair(key, pa, pb):
        return _near_pairs(threshold, pa, None if key[0] == key[1] else pb)

    return (
        a.groupBy("block_a", "block_b")
        .cogroup(b.groupBy("block_a", "block_b"))
        .applyInPandas(pair, _pair_schema(embeddings, id_col))
    )


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
    ``recon`` on top of it (inlining re-evaluates the 16-element absmax
    per element). Map-only Column arithmetic; 8× storage cut at 100 TB
    with per-block fidelity.
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
    flagged). Each task runs the IDENTICAL ``_kmeanspp_lloyd`` call the
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


def _pq_codebooks(spark, Xs, codebooks, m_subs: int, ks: int, seed: int):
    """The (m_subs, ks, dsub) PQ codebooks: fitted on the sample, or the
    pinned ones checked against the requested shape."""
    import numpy as np

    if codebooks is None:
        if Xs.shape[1] % m_subs != 0:
            raise ValueError(f"m_subs={m_subs} must divide dim={Xs.shape[1]}")
        return _fit_subspace_codebooks(spark, Xs, m_subs, ks, seed)
    cb = np.asarray(codebooks, dtype=np.float64)
    if cb.shape[:2] != (m_subs, ks):
        raise ValueError(f"pinned codebooks shape {cb.shape} != ({m_subs}, {ks}, dsub)")
    return cb


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
    ``ks``-centroid codebook from the bounded deterministic sample
    (``_fit_sample``) — FAISS trains PQ the same way. Encode: each corpus
    vector becomes ``m_subs`` small codes (64-dim float32 → 8 B at
    m_subs=8: 32×), which is what lets a 100 TB embedding corpus live in
    cluster memory. Search is ADC (asymmetric distance computation): per
    query one (m_subs × ks) lookup table against the query's unit vector;
    approx score = Σ_m LUT[m, code_m]. The scan encodes, looks up, cuts to
    the top R = rerank·k per query and re-ranks the survivors by their
    exact cosine in the same batch — the standard ADC refinement, at no
    second corpus pass.

    ``rerank="auto"``: the re-rank multiplier scales with corpus size as
    ``max(16, ceil(16 · (n/2000)^log10(2)))`` — it DOUBLES per decade of
    corpus growth, the constants read directly off the measured drift
    curve (ANN_RECALL_SCALE.json: pinned codebooks need rerank 16 for
    recall 0.98 at n≈2.0k and rerank 32 for 1.00 at n≈20.0k on the
    adversarial out-of-fit union). A fixed multiplier let recall drift
    0.98 → 0.84 at 10×; auto holds ≥ 0.95 at both measured scales and
    stays sublinear (n=10⁹ → ~830·k exact re-ranks per query). n is the
    fit sample's size when the sample holds the whole corpus; only a full
    sample (or pinned codebooks) costs a count job.

    Pinned-codebook mode: pass ``codebooks`` (m_subs × ks × dsub) to skip
    the fit and quantize with a FROZEN codebook (the production shape —
    FAISS trains PQ once and ships the index). All ADC arithmetic is
    strict left-to-right double arithmetic, so with literal codebooks
    every approximate score is an engine-portable IEEE754 value and
    ``sim5c_pq_pinned_topk``'s DuckDB oracle restates the ENTIRE pruned
    ADC search, not just an exact twin.
    """
    import math

    if rerank != "auto" and not isinstance(rerank, int):
        raise ValueError(f"rerank must be an int or 'auto', got {rerank!r}")
    Xs = None
    if codebooks is None:
        Xs = _fit_sample(corpus, id_col, vec_col, fit_sample)
        if not len(Xs):  # nothing rankable: the plain scan returns empty
            return _scan(corpus, queries, k, id_col, vec_col)
    cb = _pq_codebooks(corpus.sparkSession, Xs, codebooks, m_subs, ks, seed)
    if rerank == "auto":
        if Xs is not None and len(Xs) < fit_sample:
            n = len(Xs)
        else:
            n = corpus.filter(_norm(F.col(vec_col)) > 0).count()
        rerank = max(16, math.ceil(16 * max(n / 2000.0, 1.0) ** 0.30103))
    return _scan(
        corpus, queries, k, id_col, vec_col, R=max(k, rerank * k), codebooks=cb
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
    ``rerank·k`` survivors are exactly re-ranked — every optional stage of
    the scan at once. This composes ``ivf_topk``'s routing (score
    ~n_probe/n_lists of the corpus) and ``pq_topk``'s compression, which
    is how a 100 TB embedding corpus is served: compressed codes resident
    in memory, per-query work bounded by probed-list size, exact math only
    on rerank·k rows.

    Codes are built on the RAW unit vectors, not list residuals
    (FAISS's ``by_residual=False`` mode): residual encoding couples the
    codebook to the router and is NOT what the sim5c-proven ltr-ADC
    arithmetic pins; the non-residual composition keeps every stage
    individually proven (routing = sim3b's exact form, ADC = sim5c's)
    so the COMPOSED pruned search is hash-oracle-able end to end.

    Pinned mode (both ``centroids`` and ``codebooks`` given) skips all
    fitting — the production shape, and the fully-oracled registry entry
    ``sim8_ivfadc_pinned_topk``. Live mode fits both quantizers on one
    ``_fit_sample``, with √(sample size) lists.
    """
    import math

    Xs = None
    if centroids is None or codebooks is None:
        Xs = _fit_sample(corpus, id_col, vec_col, fit_sample)
        if not len(Xs):  # nothing rankable: the plain scan returns empty
            return _scan(corpus, queries, k, id_col, vec_col)
    if centroids is None:
        centroids = _kmeanspp_lloyd(Xs, max(2, math.isqrt(len(Xs))), seed)
    cb = _pq_codebooks(corpus.sparkSession, Xs, codebooks, m_subs, ks, seed)
    return _scan(
        corpus, queries, k, id_col, vec_col, R=max(k, rerank * k),
        centroids=centroids, n_probe=n_probe, codebooks=cb,
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
