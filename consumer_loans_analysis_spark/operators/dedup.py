"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- **exact**: hash-groupBy on the dedup key — one shuffle, no comparison
  explosion. For 100 TB, group on a fingerprint (md5) instead of raw text so
  shuffle rows are ~32 bytes, not documents.
- **n-gram Jaccard**: posting lists (explode shingles, group each
  shingle's documents into one sorted id list, read the pairs off the
  list and count shared shingles per pair) — never materializes the
  O(n²) pair space and never self-joins the index; cost is Σ per-shingle
  df². Hot shingles are the skew risk → an optional document-frequency
  cap on the posting lists.
- **MinHash+LSH**: fixed-size signatures (num_hashes longs per doc) →
  one posting list per band bucket (the same pair generator) →
  exact-Jaccard verification of candidates only.
  This is the 100 TB path: shuffle volume is #docs × signature, candidate
  pairs ≪ n². With r rows/band and b bands, a pair at similarity s is missed
  with probability (1−s^r)^b — at s=0.8, r=2, b=32: ~5·10⁻⁸.
- **SimHash**: one 32-bit signature per doc from word-frequency votes;
  near-dups = signatures within Hamming distance k (cosine-like measure).

SimHash stays md5-based (its ORACLE recomputes the signatures in DuckDB, so
the hash must be engine-portable — operators.text.portable_hash). Jaccard/
MinHash internals use xxhash64 (JVM-native, never leaves the engine): their
oracles state exact Jaccard over shingle STRINGS, so the internal hash only
has to be injective-in-practice, not portable.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators.text import portable_hash, words


def _widen_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a few-split scan up to the cluster's
    parallelism — a no-op at scale, where the scan already yields enough
    splits.

    Width is ESTIMATED from driver-side file metadata (Σ ceil(size /
    maxPartitionBytes) over ``df.inputFiles()``): zero Spark jobs and no
    RDD instantiation at plan-build time (``df.rdd.getNumPartitions()``
    forces physical planning and a JVM→Python RDD bridge; the plan-shape
    suite asserts the action-free contract). Non-file sources (inline or
    upstream-repartitioned frames) report no input files and fall back to
    the partition-count probe — zero jobs, just planning cost — so an
    already-wide in-memory frame is not shuffled again. Caveat on that
    fallback: ``df.rdd.getNumPartitions()`` pays exactly the non-AQE
    physical-planning + RDD-bridge cost the file path avoids, and it
    reports the PRE-AQE layout (AQE may coalesce differently at execution
    time), so the widening decision can be conservative. Acceptable
    because it only fires for non-file frames, where a spurious
    repartition costs one extra narrow exchange, not a re-scan.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        mpb = max(1, spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
        sc = spark.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            p = sc._jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            splits += max(1, -(-size // mpb))
            if splits >= target:
                return df
    else:
        if df.rdd.getNumPartitions() >= target:
            return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup: keep one row per key (hash-groupBy, single shuffle)."""
    return df.dropDuplicates(key_cols)


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct 64-bit-hashed word n-gram shingles per document: (id, sh).

    Hashing each shingle ONCE to a long (xxhash64, JVM-native) and doing all
    downstream work (posting lists, minhash, band keys) on 8-byte
    longs instead of ~50-byte strings cuts shuffle volume ~6× and removes
    per-row md5 cost. Collisions (~|shingles|²/2⁶⁴) are negligible.

    Parallelism: a small corpus arrives as one file split, which would run
    the whole explode+hash on ONE core; widen to the cluster's parallelism
    first (round-robin, no key skew). At scale the scan already yields
    enough splits and this is a no-op.
    """
    # explode the expression, not a projected ``arr`` column: exploding an
    # attribute lets Spark infer a size(arr) > 0 filter below the
    # projection, which evaluates the whole hashing expression twice more
    return _widen_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(_shingle_hash_array(text_col, n)).alias("sh"),
    )


def _posting_pairs(keyed: DataFrame, max_df: int | None = None) -> DataFrame:
    """Candidate pairs from an inverted index: ``(id, key…)`` rows →
    ``(id_a, id_b, n)`` for every ``id_a ≤ id_b`` that share a key, ``n``
    the number of keys they share; on the diagonal ``n`` is the
    document's key count. Each key's ids are grouped into one sorted
    posting list and the pairs are read off it — a shuffle of (key, id)
    rows and one of the emitted pairs, no self-join of the index.

    ``posexplode`` then ``explode(slice(...))`` emits the pairs row by row,
    so no row holds more than one posting list (a nested transform would
    build a d²-element array for a key in d documents). ``max_df`` drops
    posting lists longer than the cap BEFORE pairs are emitted — a key in
    d documents costs d² rows, and boilerplate keys carry no near-dup
    signal; the diagonal then counts only keys under the cap."""
    keys = [c for c in keyed.columns if c != "id"]
    lists = keyed.groupBy(*keys).agg(F.array_sort(F.collect_list("id")).alias("ids"))
    if max_df is not None:
        lists = lists.filter(F.size("ids") <= max_df)
    return (
        lists.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 1, F.size("ids"))).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def jaccard_near_dupes(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3, max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold (inverted index).

    ``max_shingle_df`` bounds the worst-case candidate volume: with a cap c
    a shingle contributes ≤ c² pair rows however pathological the corpus
    boilerplate is, and Jaccard is computed over the filtered shingle
    universe (capped shingles leave numerator AND denominator — d2b's
    oracle). None = exact over the full shingle universe (d2's oracle)."""
    pairs = _posting_pairs(shingle_hashes(df, text_col, id_col, n), max_shingle_df)
    diag = pairs.filter(F.col("id_a") == F.col("id_b"))
    sa = diag.select("id_a", F.col("n").alias("n_a"))
    sb = diag.select(F.col("id_a").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("n") / (F.col("n_a") + F.col("n_b") - F.col("n")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_hash_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document DISTINCT hashed-shingle ARRAY: (id, arr: array<bigint>).

    The array form (vs the exploded ``shingle_hashes``) keeps the shingle
    set row-aligned with the document, so signature computation and
    candidate verification stay map-side expressions — no explode, no
    groupBy re-assembly shuffle. Documents with fewer than ``n`` words get
    an empty array (they cannot near-dup and are filtered by callers).
    """
    return df.select(
        F.col(id_col).alias("id"), _shingle_hash_array(text_col, n).alias("arr")
    )


def _shingle_hash_array(text_col: str, n: int) -> Column:
    """The distinct xxhash64 word n-grams of one document (empty below
    ``n`` words) — the one shingle expression behind ``shingle_hashes``
    and ``shingle_hash_arrays``."""
    w = words(F.col(text_col))
    return F.array_distinct(
        F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.xxhash64(F.array_join(F.slice(w, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
    )


def band_keys_table(
    arr_tbl: DataFrame, num_hashes: int = 64, rows_per_band: int = 2
) -> DataFrame:
    """(id, band_idx, band_key) LSH index rows for a shingle-array table
    (columns ``id``, ``arr``). Shared by the batch operator below and the
    streaming ingest path (streaming/corpus.py) so their indexes are
    interchangeable: same seeded coefficients, same fold-style signature
    (see minhash_near_dupes for the plan rationale)."""
    import random as _random

    rng = _random.Random(42)
    p = (1 << 31) - 1
    coeffs = [(rng.randint(1, p - 1), rng.randint(0, p - 1)) for _ in range(num_hashes)]
    A = F.array(*[F.lit(a) for a, _ in coeffs])
    B = F.array(*[F.lit(b) for _, b in coeffs])
    init = F.array_repeat(F.lit(p).cast("long"), num_hashes)
    sig = F.aggregate(
        F.col("arr"),
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.zip_with(
                A, B,
                lambda a, b: F.pmod(a * F.pmod(x, F.lit(p)) + b, F.lit(p)),
            ),
            lambda u, v: F.least(u, v),
        ),
    )
    n_bands = num_hashes // rows_per_band
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.xxhash64(
            b,
            *[
                F.element_at("sig", b * rows_per_band + (r + 1))
                for r in range(rows_per_band)
            ],
        ),
    )
    return arr_tbl.select("id", sig.alias("sig")).select(
        "id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )


def minhash_near_dupes(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3, num_hashes: int = 64, rows_per_band: int = 2,
) -> DataFrame:
    """MinHash + banded LSH candidates, then exact-Jaccard verification.

    Output equals ``jaccard_near_dupes`` up to the (negligible) LSH
    false-negative probability; verification removes all false positives.

    Hash scheme: each shingle is xxhash64'd once; signature i applies the
    universal family g_i(x) = (a_i·x + b_i) mod p (p = 2³¹−1, fixed seeded
    coefficients — the same construction as MLlib MinHashLSH). One
    multiply-add-mod per hash instead of an md5 call: pure codegen
    arithmetic, intermediates < 2⁶², no long overflow under any ANSI mode.

    Plan shape (the 100 TB story): signatures are
    ``array_min(transform(arr, g_i))`` over the per-doc shingle array —
    MAP-ONLY, no explode and no 64-aggregate groupBy shuffle (which an
    exploded (id, sh) layout would force). Candidates are read off one
    posting list per band bucket (``_posting_pairs``: the band-key
    groupBy and the pair aggregate are the only candidate shuffles, and
    the signature fold runs once); ``verify_jaccard`` then fetches the
    shingle arrays with two id equi-joins. Candidate pairs ≪ n² by LSH
    construction (miss probability at s=0.8, r=2, b=32: ~5·10⁻⁸).

    The shingle-array table feeds three consumers (signatures + both
    verification sides) and tokenize+hash is the dominant per-row cost, so
    it is cached — at 8 B × |shingles| per doc it is ~2 orders smaller
    than the corpus. The repartition widens a few-split small scan to the
    cluster's parallelism (a no-op at scale where the scan already yields
    enough splits).
    """
    df = _widen_small_scan(df)
    arr_tbl = (
        shingle_hash_arrays(df, text_col, id_col, n)
        .filter(F.size("arr") > 0)
        .cache()
    )
    # Signature as ONE array aggregate (fold over shingles, element-wise
    # running minima against all 64 hash functions) rather than 64
    # array_min(transform(...)) columns: identical values (asserted in the
    # adoption A/B and the pytest minhash==exact check), same O(64·|arr|)
    # arithmetic, but one expression tree instead of 64 wide ones —
    # fresh-process end-to-end at sf0.1 drops ~5.7 s → ~4 s because driver
    # analysis + codegen of the narrow plan is much cheaper. (The per-plan
    # overhead dominates this operator at bench scale; see SCALING.md.)
    banded = band_keys_table(arr_tbl, num_hashes, rows_per_band)
    candidates = _posting_pairs(banded).filter(F.col("id_a") < F.col("id_b"))
    return verify_jaccard(candidates, arr_tbl, threshold)


def verify_jaccard(candidates: DataFrame, arrs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: ``(id_a, id_b)``
    rows against a per-document shingle-array table (``id``, ``arr``) →
    ``(id_a, id_b, jaccard)`` with jaccard ≥ threshold. Two id equi-joins
    fetch the arrays; the Jaccard is ``array_intersect``/``array_union``
    arithmetic on the joined rows. Removes every LSH false positive."""
    a = arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("arr_a", "arr_b"))
            / F.size(F.array_union("arr_a", "arr_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash signature per document: each bit is the sign of the
    frequency-weighted vote of that bit over all word occurrences.

    ``bits=64`` uses the full-width ``portable_hash64`` (two md5 halves
    bit-combined) — the default 32-bit md5-prefix hash would leave bits
    32-63 constant-zero, which silently degrades 64-bit signatures to
    32-bit AND makes every Manku block over the constant half match every
    pair (candidate explosion). Bit j is set via ``shiftleft(1L, j)``: a
    ``2**63`` literal overflows the signed long, the shift is the defined
    bit-pattern form (j=63 lands on the sign bit)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    from consumer_loans_analysis_spark.operators.text import portable_hash64

    tokens = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("word")
    )
    h = portable_hash64(F.col("word")) if bits > 32 else portable_hash(F.col("word"))
    votes = tokens.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    one = F.lit(1).cast("long")
    sig = reduce(
        lambda acc, j: acc.bitwiseOR(
            F.when(F.col(f"v{j}") > 0, F.shiftleft(one, j)).otherwise(F.lit(0).cast("long"))
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return votes.select("id", sig.alias("simhash"))


def simhash_near_dupes(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text",
    id_col: str = "doc_id", bits: int = 32,
) -> DataFrame:
    """Pairs whose SimHash signatures are within ``max_hamming`` bits.

    Pigeonhole blocking (Manku et al., WWW'07): split each signature into
    ``k = max_hamming + 1`` disjoint bit blocks. Two signatures within
    Hamming distance ``max_hamming`` differ in at most ``max_hamming``
    blocks, so they agree EXACTLY on at least one block — candidates are an
    equi-join on (block_idx, block_value), verified by the true Hamming
    distance. No false negatives; verification removes all false positives.

    Scale shape: candidate volume per block bucket is ~n²/2^w for block
    width w (w = bits/k). The 32-bit oracle-portable default gives 8-bit
    blocks — fine to ~10⁶ docs; for corpus-scale runs use ``bits=64``
    (16-bit blocks, full-width hash — oracled end-to-end as
    ``d4b_simhash64_pairs`` and pytest-checked against brute force).
    The old all-pairs theta join compared every pair regardless of bits.
    """
    k = max_hamming + 1
    base, rem = divmod(bits, k)
    widths = [base + (1 if i < rem else 0) for i in range(k)]
    offsets = [sum(widths[:i]) for i in range(k)]
    # cached for the same reason as minhash: the block equi-join consumes
    # the signature table on both sides and the broadcast build side
    # defeats exchange reuse, so the explode+bitwise-vote aggregation (the
    # expensive stage) would otherwise run twice. One long per doc — tiny.
    sig = simhash_signatures(df, text_col, id_col, bits).cache()
    block_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in zip(offsets, widths)
        ]
    )
    banded = sig.select(
        "id", "simhash", F.posexplode(block_vals).alias("block_idx", "block_val")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"),
        "block_idx", "block_val",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"),
        "block_idx", "block_val",
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair agreeing on m>1 blocks appears m times — dedup BEFORE the
        # (cheap, but why pay it twice) hamming verify
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document gets
    ``cluster_id`` = the minimum doc id reachable through pairs (singletons
    cluster with themselves) and ``is_canonical`` marks the one survivor per
    cluster — the step that turns near-dup PAIRS into a deduplicated corpus
    (``docs.join(clusters, ...).filter("is_canonical")``).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(graph diameter)
    rounds. Near-dup components are near-cliques (every member overlaps the
    template it was perturbed from), so 2-4 rounds in practice; ``max_iter``
    guards pathological chain graphs, raising rather than returning a
    partially-propagated (wrong) labeling.

    Scale shape: each round is one shuffle of (id, label) longs — 16 B/row —
    plus an equi-join against the (symmetrized, cached) edge list; documents
    never enter the loop. ``localCheckpoint`` truncates lineage each round so
    the plan doesn't grow with iterations (the classic iterative-DataFrame
    trap). For graphs with whale components at extreme scale, the
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce") halves round count; min-label is
    the right tradeoff at dedup's near-clique shapes.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = docs.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "cluster_id")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — "
            "graph diameter exceeds the near-dup assumption"
        )
    edges.unpersist()
    return labels.select(
        F.col("id").alias(id_col),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def duplicate_spans(
    df: DataFrame,
    span_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring signal (the span-level complement of
    document-level near-dedup, after Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): for every document, the
    number of its distinct ``span_words``-word spans that also occur in at
    least one OTHER document, and the duplicated-span ratio.

    Plan: explode per-doc DISTINCT span hashes (xxhash64, 8 B — span text
    never shuffles), one groupBy for global span document-frequency, join
    back, one groupBy per doc. Σ|spans| shuffle rows — the inverted-index
    shape (like d2), linear in corpus size. ``explode_outer`` keeps a row
    for docs shorter than ``span_words``: they have zero spans and report
    0/NULL.
    """
    sp = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_shingle_hash_array(text_col, span_words)).alias("sh"),
    )
    df_counts = (
        sp.filter(F.col("sh").isNotNull())
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("span_df"))
    )
    n_spans = F.count("sh")
    n_dup = F.count(F.when(F.col("span_df") >= 2, F.lit(1)))
    return (
        sp.join(df_counts, "sh", "left")
        .groupBy("id")
        .agg(
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup_spans"),
            F.round(F.try_divide(n_dup, n_spans), 6).alias("dup_span_ratio"),
        )
        .select(F.col("id").alias(id_col), "n_spans", "n_dup_spans", "dup_span_ratio")
    )


def remove_duplicate_spans(
    df: DataFrame,
    span_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-substring REMOVAL — the production step d7's detection
    feeds (Lee et al. 2022 ExactSubstr: don't drop the document, cut the
    duplicated substring out of it), at span granularity: every
    ``span_words``-word window whose text occurs in MORE THAN ONE
    document is excised from all of them; words covered by no duplicated
    span survive in order. Returns (id, n_words, n_removed,
    removed_frac, cleaned_md5) — the 32 B fingerprint convention, so
    downstream dedup shuffles digests, not bodies.

    Keys are md5(span text) in BOTH engines (portable, collision-free in
    practice at 128 bits), so the oracle needs no engine-specific hash.
    Plan: one explode of per-position span digests (Σ|spans| rows — the
    d2/d7 inverted-index cost class), one digest groupBy for cross-doc
    document frequency (distinct per doc first, so within-doc repeats
    don't fake cross-doc dups), a join back for duplicated OCCURRENCES,
    one per-doc collect of covered intervals (bounded by doc length),
    a sort + fold-merge of overlapping intervals (r11 — a fully-duplicated
    doc's ~word-count raw intervals collapse to ONE run, so the rebuild
    can't go quadratic on boilerplate-heavy corpora), and a map-side array
    rebuild: ``filter(words, (x, i) -> no merged run covers i)``. Per-doc
    cost O(words × runs + intervals·log intervals); no corpus-sized
    window."""
    w = words(F.col(text_col))
    n_w = F.size(w)
    spans = F.when(
        n_w >= span_words,
        F.transform(
            F.sequence(F.lit(0).cast("int"), (n_w - span_words).cast("int")),
            lambda i: F.struct(
                i.alias("s"),
                F.md5(F.array_join(F.slice(w, i + 1, span_words), " ")).alias(
                    "sh"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<s:int,sh:string>>"))
    occ = df.select(
        F.col(id_col).alias("id"), F.explode(spans).alias("o")
    ).select("id", F.col("o.s").alias("s"), F.col("o.sh").alias("sh"))
    span_df = (
        occ.select("id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("span_df"))
    )
    dup_iv = (
        occ.join(span_df, "sh")
        .where(F.col("span_df") >= 2)
        .select(
            "id",
            F.col("s").cast("long").alias("s"),
            (F.col("s") + span_words).cast("long").alias("e"),
        )
    )
    rem = dup_iv.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("ivs")
    )
    joined = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_text")
    ).join(rem, "id", "left")
    w2 = words(F.col("_text"))
    empty_ivs = F.array().cast("array<struct<s:bigint,e:bigint>>")
    # Sort + fold-merge overlapping/adjacent intervals BEFORE the per-word
    # scan (r10 verdict #6): a boilerplate-heavy doc has ~one raw interval
    # per word (every window duplicated), so the per-word F.exists over raw
    # intervals went quadratic — O(words × intervals). Merged runs bound it
    # at O(words × runs + intervals log intervals), runs ≪ intervals (the
    # pathological all-duplicated doc collapses to ONE interval). Coverage
    # semantics are unchanged: a word index is inside some raw interval iff
    # it is inside some merged one, so the output is bit-identical.
    merged = F.aggregate(
        F.array_sort(F.coalesce(F.col("ivs"), empty_ivs)),
        empty_ivs,
        lambda acc, v: F.when(
            (F.size(acc) == 0) | (v["s"] > F.element_at(acc, -1)["e"]),
            F.concat(acc, F.array(v)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(F.element_at(acc, -1)["e"], v["e"]).alias("e"),
                    )
                ),
            )
        ),
    )
    # stage the HOF input as a projected column (nested-lambda hygiene)
    joined = joined.withColumn("_mivs", merged)
    kept = F.filter(
        w2,
        lambda x, i: ~F.exists(
            F.col("_mivs"),
            lambda v: (i.cast("long") >= v["s"]) & (i.cast("long") < v["e"]),
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.size(w2).cast("long").alias("n_words"),
        (F.size(w2) - F.size(kept)).cast("long").alias("n_removed"),
        F.round(
            F.try_divide(
                (F.size(w2) - F.size(kept)).cast("double"),
                F.size(w2).cast("double"),
            ),
            6,
        ).alias("removed_frac"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
    )


def bloom_build(
    fps: DataFrame, fp_col: str = "fp",
    expected_items: int = 1_000_000, fpp: float = 0.01,
):
    """Distributed Bloom-filter build over a fingerprint column.

    Spark's own ``bloom_filter_agg`` is not in the public function
    registry (internal to runtime row-level filtering), so this is the
    engine's equivalent, built from public primitives:

    1. per row, the ``n_hashes`` bit positions are JVM-side Column exprs
       (``pmod(xxhash64(fp, i), m_bits)`` — the probe side computes the
       identical exprs, so hash portability is by construction);
    2. positions fold into 64-bit words via one ``bit_or`` aggregation
       grouped by word index — the ONLY shuffle, and it carries ≤
       n·n_hashes 16-byte rows down to ≤ m_bits/64 result rows;
    3. only SET words reach the driver (sparse collect), which lays them
       into a numpy bitmap: m_bits/8 bytes (~1.2 MB at 1M items / 1%
       fpp) — broadcastable state, vs the fingerprint table itself.

    Sizing is the textbook optimum: m = −n·ln(p)/ln2², h = (m/n)·ln2.

    Returns ``(m_bits, n_hashes, words)`` with ``words`` a numpy uint64
    array of length ceil(m_bits/64).
    """
    import math

    import numpy as np

    m_bits = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m_bits = (m_bits + 63) // 64 * 64
    n_hashes = max(1, round(m_bits / expected_items * math.log(2)))

    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(fp_col), F.lit(i)), F.lit(m_bits))
                for i in range(n_hashes)
            ]
        )
    ).alias("pos")
    set_words = (
        fps.select(pos)
        .select(
            F.floor(F.col("pos") / 64).alias("w"),
            # PySpark's shiftleft() only takes a literal shift — expr form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in set_words:
        words[r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return m_bits, n_hashes, words


def bloom_probe_split(
    batch: DataFrame, fingerprints: DataFrame, fp_col: str = "fp",
    expected_items: int | None = None, fpp: float = 0.01,
) -> tuple[DataFrame, DataFrame]:
    """The two branches of the Bloom-gated incremental dedup, exposed
    separately: ``(definite_new, verified_new)``. ``definite_new`` (Bloom
    says certainly-unseen) is exchange- and join-free by construction —
    the plan-shape suite pins that; ``verified_new`` routes the
    Bloom-positive sliver through the exact anti-join. Most callers want
    ``bloom_incremental_dedupe`` (their union)."""
    if expected_items is None:
        expected_items = max(64, fingerprints.count())
    m_bits, n_hashes, bloom_words = bloom_build(
        fingerprints, fp_col, expected_items, fpp
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def might_contain(positions: pd.Series) -> pd.Series:
        import numpy as np

        if len(positions) == 0:
            return pd.Series([], dtype=bool)
        P = np.asarray(positions.tolist(), dtype=np.int64)  # (batch, h)
        w = bloom_words[P >> 6]
        m = np.uint64(1) << (P.astype(np.uint64) & np.uint64(63))
        return pd.Series(((w & m) != 0).all(axis=1))

    probe_pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col(fp_col), F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]
    )
    flagged = batch.withColumn("_maybe", might_contain(probe_pos))
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    verified_new = (
        flagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(fingerprints.select(fp_col).distinct(), fp_col, "left_anti")
    )
    return definite_new, verified_new


def bloom_incremental_dedupe(
    batch: DataFrame, fingerprints: DataFrame, fp_col: str = "fp",
    expected_items: int | None = None, fpp: float = 0.01,
) -> DataFrame:
    """Incremental-batch dedup with a Bloom pre-filter — the scale upgrade
    of the plain anti-join (d8): EXACTLY the same rows come out (Bloom
    negatives are guaranteed non-members; positives are verified by the
    exact anti-join), but at 100 TB the historical fingerprint table no
    longer shuffles per batch. The ~1 MB bitmap broadcasts to the batch
    side, definite-new rows (the overwhelming majority in append-heavy
    pipelines) pass with zero exchange, and only the ~fpp·batch + true-dup
    sliver pays the anti-join.

    ``expected_items`` defaults to one count() of the fingerprint table
    (pass it explicitly to keep construction action-free); the build
    itself is one aggregation action either way — amortized state, like
    d8's materialized fingerprint table.
    """
    definite_new, verified_new = bloom_probe_split(
        batch, fingerprints, fp_col, expected_items, fpp
    )
    return definite_new.unionByName(verified_new)
