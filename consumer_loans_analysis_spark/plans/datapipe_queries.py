"""Training-data-pipeline queries: dedup, similarity, text, multimodal.

Each registers the real operator from ``operators/`` with a DuckDB oracle
that states the exact semantics. Hashes are md5-based (engine-portable) so
even MinHash/SimHash are hash-check-able; the MinHash query's oracle is the
EXACT Jaccard answer — valid because verification removes false positives
and the banded-LSH false-negative probability at the data's similarity
margin (pairs are ≥0.97 or ≤0.52) is ~10⁻³⁹.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators import dedup, multimodal, similarity, text
from consumer_loans_analysis_spark.plans.registry import query
from consumer_loans_analysis_spark.sources.readers import read_table

# Shared DuckDB fragments -----------------------------------------------------

_JACCARD_SQL = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
"""


def _simhash_sql(bits: int = 32, max_hamming: int = 3) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    # bit 63 is the sign bit: its set-value is long-min, every other bit j
    # is +2^j; summing disjoint bit values yields the signed bit pattern
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST("
        + ("-9223372036854775808" if j == 63 else str(2**j))
        + " AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    if bits > 32:
        # full-width 64-bit hash (portable_hash64 twin): 16 md5 hex digits
        # as UBIGINT, wrapped to the signed bit pattern through HUGEINT
        # (a direct ::BIGINT cast range-errors on values ≥ 2⁶³)
        hv = """CASE WHEN u >= 9223372036854775808::HUGEINT
                THEN (u - 18446744073709551616::HUGEINT)::BIGINT
                ELSE u::BIGINT END"""
        h_cte = f"""h AS (SELECT id, {hv} AS hv FROM (
          SELECT id, CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT)::HUGEINT AS u
          FROM tok))"""
    else:
        h_cte = "h AS (SELECT id, CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS hv FROM tok)"
    return f"""
    WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word FROM documents),
    {h_cte},
    votes AS (SELECT id, {votes} FROM h GROUP BY id),
    sig AS (SELECT id, {sig} AS simhash FROM votes)
    SELECT a.id AS id_a, b.id AS id_b,
      bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


_COSINE_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""


# --- dedup -------------------------------------------------------------------

@query(
    "d1_exact_dedup",
    oracle="""
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents GROUP BY source
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per source: docs vs distinct content
    fingerprints. At 100 TB the md5 fingerprint (32 bytes) is what shuffles,
    never the document bodies."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_unique"),
    )


@query("d2_ngram_jaccard_pairs", oracle=_JACCARD_SQL)
def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs ≥ 0.8 read off shingle
    posting lists (no O(n²) pair space, no self-join of the index)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.jaccard_near_dupes(docs, threshold=0.8)


_JACCARD_CAPPED_SQL = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
    sh AS (SELECT sh0.id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 3),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
"""


@query("d2b_ngram_jaccard_capped", oracle=_JACCARD_CAPPED_SQL)
def d2b_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d2 with the hot-shingle document-frequency cap (df ≤ 3): Jaccard
    over the capped shingle universe. The cap bounds the worst-case pair
    volume at c² candidates per shingle — the guard that keeps d2 viable
    when real corpora contain boilerplate (license headers, nav chrome)
    with df in the millions; it is a size filter on the shingle posting
    lists. Cap 3 bites on this corpus (~1% of
    shingles dropped, every pair's jaccard shifts — the oracle checks the
    capped values, not d2's)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.jaccard_near_dupes(docs, threshold=0.8, max_shingle_df=3)


@query("d3_minhash_lsh_pairs", oracle=_JACCARD_SQL)
def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 32-band LSH candidates read off band posting lists,
    exact-verify ≥ 0.8. Oracle is the exact Jaccard answer (see module
    docstring for why that's sound)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.minhash_near_dupes(docs, threshold=0.8)


@query("d4_simhash_pairs", oracle=_simhash_sql())
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) signatures; pairs within Hamming distance 3."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dupes(docs, max_hamming=3)


@query("d4b_simhash64_pairs", oracle=_simhash_sql(bits=64))
def d4b_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash at CORPUS-scale width: 64-bit signatures (full-width
    ``portable_hash64`` — 16-bit Manku blocks keep per-bucket candidate
    volume ~n²/2¹⁶ where the 32-bit default's 8-bit blocks stop helping
    past ~10⁶ docs), pairs within Hamming distance 3. Oracle recomputes
    the full 64-bit signature pipeline in DuckDB, signed-wrap included."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dupes(docs, max_hamming=3, bits=64)


@query(
    "d5_embedding_near_dupes",
    oracle=_COSINE_SQL
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      ROUND(list_dot_product(a.v, b.v)
            / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def d5_embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.45 (rounded for the hash gate).

    Blocked-GEMM exact path: rows are keyed by hash-block pair and each
    block pair is cogrouped into the GEMM pair kernel, so building the plan
    runs no Spark job. The 0.45 threshold sits at the random-pair cosine
    boundary of this corpus (measured margin 0.4497 vs 0.4501), where
    sign-LSH candidate volume approaches all-pairs — see
    ``embedding_near_dupes_blocked``'s docstring and SCALING.md. That margin
    is also why GEMM rounding cannot move a pair across the threshold. The
    sub-quadratic near-dup path is semantic_dedup's bucket blockers
    (d11/d11b)."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dupes_blocked(emb, threshold=0.45)
    return pairs.withColumn("cos", F.round(F.col("cos"), 6))


@query(
    "d6_dup_clusters",
    oracle="""
    WITH RECURSIVE
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT id_a, id_b FROM pairs
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id,
      (id = MIN(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
)
def d6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → deduplicated corpus: connected components over the
    MinHash-LSH pair graph (≥ 0.8 exact-verified Jaccard — identical pair
    set to d2/d3), min-id cluster labels, one canonical doc per cluster.
    Oracle states reachability directly with a recursive CTE."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dupes(docs, threshold=0.8)
    return dedup.duplicate_clusters(docs, pairs)


@query(
    "d13_source_overlap",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT id_a, id_b FROM pairs
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    )
    SELECT LEAST(da.source, db.source) AS source_a,
      GREATEST(da.source, db.source) AS source_b,
      COUNT(*) AS n_pairs
    FROM dup
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY 1, 2
    """,
)
def d13_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: d3's exact-verified near-dup pairs
    (MinHash-LSH candidates, Jaccard ≥ 0.8) aggregated by unordered source
    pair — the curation diagnostic that tells you WHICH shards duplicate
    which (mirror detection, scraper overlap, license-pool reuse) before
    deciding what to drop. Diagonal entries are within-source duplication.

    Plan shape: the pair table is tiny relative to the corpus, so the two
    source lookups are joins on the doc key; at 100 TB carry `source`
    through the dedup signature pipeline instead (it rides the 8-byte
    band keys for free) and both joins disappear."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dupes(docs, threshold=0.8).select("id_a", "id_b")
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("s_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("s_b"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- similarity search -------------------------------------------------------

@query(
    "sim1_cosine_topk",
    oracle=_COSINE_SQL
    + """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
          / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the query vectors (id < 5): the
    top-k scan with no optional stage — the collected query batch closes
    over one corpus pass, and the corpus never shuffles."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=5
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


@query(
    "sim2_lsh_bucketed_topk",
    oracle=_COSINE_SQL
    + """
    , b AS (
      SELECT vec_id, v,
        (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
        + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
        + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
      FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
          / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))) AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 20 AND c.vec_id >= 20
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim2_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-3 (candidates = same-bucket only;
    the oracle states the same bucketed algorithm, so this checks the
    plumbing — recall-vs-exact is a tuning knob, not a correctness claim)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.bucketed_topk(
        emb.filter(F.col("vec_id") >= 20), emb.filter(F.col("vec_id") < 20), k=3
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


# --- text analysis -----------------------------------------------------------

@query(
    "t1_token_stats",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id, len(words) AS n_tokens,
      (SELECT CAST(SUM(CAST(CEIL(LEN(x) / 4.0) AS BIGINT)) AS BIGINT)
       FROM UNNEST(words) AS t(x)) AS n_subwords
    FROM w
    """,
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (ceil(len/4))."""
    docs = read_table(spark, sf_dir, "documents")
    return text.token_stats(docs).select("doc_id", "n_tokens", "n_subwords")


@query(
    "t2_quality_features",
    oracle="""
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
    feat AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        (CAST(LEN(text) AS DOUBLE) - (CAST(len(words) AS DOUBLE) - 1)) / CAST(len(words) AS DOUBLE) AS mean_word_len,
        CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS type_token_ratio,
        CAST(len(list_filter(words, x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
          / CAST(len(words) AS DOUBLE) AS stopword_ratio
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, type_token_ratio, stopword_ratio,
      LEAST(CAST(n_words AS DOUBLE) / 200.0, 1.0) * 0.4 + type_token_ratio * 0.4
        + LEAST(stopword_ratio * 5.0, 1.0) * 0.2 AS quality_score
    FROM feat
    """,
)
def t2_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + composite score."""
    docs = read_table(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_words", "mean_word_len", "type_token_ratio",
        "stopword_ratio", "quality_score",
    )


@query(
    "t3_lang_id",
    oracle="""
    WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words FROM documents),
    s AS (
      SELECT doc_id,
        CAST(len(list_intersect(words, ['the','and','of','to','a','in','is','that'])) AS BIGINT) AS score_en,
        CAST(len(list_intersect(words, ['el','la','de','que','y','en','un','los'])) AS BIGINT) AS score_es,
        CAST(len(list_intersect(words, ['le','la','de','et','les','des','un','que'])) AS BIGINT) AS score_fr,
        CAST(len(list_intersect(words, ['der','die','und','das','ist','nicht','ein','mit'])) AS BIGINT) AS score_de,
        CAST(len(list_intersect(words, ['的','是','了','在','我','有','和','不'])) AS BIGINT) AS score_zh
      FROM w
    )
    SELECT doc_id, score_en, score_es, score_fr, score_de, score_zh,
      CASE
        WHEN score_de > score_en THEN
          CASE WHEN score_es > score_de THEN
            CASE WHEN score_fr > score_es THEN
              CASE WHEN score_zh > score_fr THEN 'zh' ELSE 'fr' END
            ELSE CASE WHEN score_zh > score_es THEN 'zh' ELSE 'es' END END
          ELSE
            CASE WHEN score_fr > score_de THEN
              CASE WHEN score_zh > score_fr THEN 'zh' ELSE 'fr' END
            ELSE CASE WHEN score_zh > score_de THEN 'zh' ELSE 'de' END END
          END
        ELSE
          CASE WHEN score_es > score_en THEN
            CASE WHEN score_fr > score_es THEN
              CASE WHEN score_zh > score_fr THEN 'zh' ELSE 'fr' END
            ELSE CASE WHEN score_zh > score_es THEN 'zh' ELSE 'es' END END
          ELSE
            CASE WHEN score_fr > score_en THEN
              CASE WHEN score_zh > score_fr THEN 'zh' ELSE 'fr' END
            ELSE CASE WHEN score_zh > score_en THEN 'zh' ELSE 'en' END END
          END
      END AS lang_pred
    FROM s
    """,
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (argmax over per-language hit
    counts, sequential lexicographic tie-break — the oracle unrolls the same
    argmax order: de, es, fr, zh vs running best starting at en)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.lang_id(docs).select(
        "doc_id", "score_en", "score_es", "score_fr", "score_de", "score_zh", "lang_pred"
    )


@query(
    "t4_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      CAST(concat('0x', substr(md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')), 1, 15)) AS BIGINT) AS fingerprint64
    FROM documents
    """,
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words content fingerprint (md5 of sorted distinct tokens)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fingerprint", "fingerprint64")


@query(
    "t5_repetition_stats",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g2 AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      FROM d, UNNEST(range(1, len(w))) AS t(i)
    ),
    c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
    a2 AS (
      SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS tbf
      FROM c2 GROUP BY 1
    ),
    g3 AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    c3 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
    a3 AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS dtf
      FROM c3 GROUP BY 1
    )
    SELECT doc.doc_id,
      ROUND(COALESCE(tbf, 0.0), 6) AS top_bigram_frac,
      ROUND(COALESCE(dtf, 0.0), 6) AS dup_trigram_frac,
      (COALESCE(tbf, 0.0) > 0.18 OR COALESCE(dtf, 0.0) > 0.30) AS is_repetitive
    FROM documents doc
    LEFT JOIN a2 ON a2.doc_id = doc.doc_id
    LEFT JOIN a3 ON a3.doc_id = doc.doc_id
    """,
)
def t5_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: top-2-gram occupancy and
    duplicate-3-gram fraction per document."""
    docs = read_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs)


_CMS_D, _CMS_W, _CMS_PHI = 4, 16, 0.02

_CMS_HASH_SQL = (
    "CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || word), 1, 8)) "
    f"AS BIGINT) % {_CMS_W}"
)

_CMS_SQL = f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    h AS (SELECT word, r, {_CMS_HASH_SQL} AS b
          FROM w CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(r)),
    sketch AS (SELECT r, b, COUNT(*) AS c FROM h GROUP BY r, b),
    tot AS (SELECT SUM(c) AS n FROM sketch WHERE r = 0),
    keys AS (SELECT word, COUNT(*) AS exact_n FROM w GROUP BY word),
    kh AS (SELECT word, r, {_CMS_HASH_SQL} AS b
           FROM keys CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(r)),
    est AS (SELECT kh.word AS word, MIN(sketch.c) AS cms_count
            FROM kh JOIN sketch USING (r, b) GROUP BY kh.word)
    SELECT est.word AS word, est.cms_count AS cms_count,
      keys.exact_n AS exact_n,
      est.cms_count - keys.exact_n AS overcount
    FROM est JOIN keys USING (word), tot
    WHERE est.cms_count >= {_CMS_PHI} * tot.n
"""


@query("sk3_cms_heavy_hitters", oracle=_CMS_SQL)
def sk3_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters over the corpus token stream
    (Cormode & Muthukrishnan 2005): a d×w counter grid (here 4×16,
    deliberately narrow so bucket collisions are real and the min-over-
    rows estimate demonstrably exceeds the exact count), queried for
    every token whose CMS estimate clears φ=2% of the stream.

    The hash is the engine-portable md5 prefix (operators/text.py::
    portable_hash), so the sketch — and therefore the ESTIMATES
    themselves, overcounts included — are bit-reproducible in the DuckDB
    oracle: unlike sk1/sk2 (library sketches, exact-side-only compare)
    every output column here is hash-compared.

    100 TB shape: the sketch build is one explode(d)+groupBy over a
    bounded d·w key space — map-side combine collapses each partition to
    ≤ d·w rows before the shuffle, and sketches merge by addition across
    any sharding. The fitted sketch (64 counters) broadcasts to the
    candidate-scoring join. Candidates here are the full vocabulary (31
    words — exact counts are also computed to exhibit the CMS ≥ exact
    one-sided guarantee); an unbounded-vocabulary deployment pairs the
    same sketch with per-partition top-k candidate emission instead."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.words(F.col("text"))).alias("word"))

    def coords():
        return F.explode(F.array(*[
            F.struct(
                F.lit(r).alias("r"),
                (text.portable_hash(F.col("word"), seed=r) % _CMS_W).alias("b"),
            )
            for r in range(_CMS_D)
        ])).alias("x")

    sketch = (
        toks.select(coords())
        .groupBy(F.col("x.r").alias("r"), F.col("x.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # stream length for the φ threshold comes FROM the sketch (every token
    # increments exactly one bucket of row 0) — no third corpus scan
    total = sketch.filter(F.col("r") == 0).agg(F.sum("c").alias("n"))
    keys = toks.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    kh = keys.select("word", "exact_n", coords()).select(
        "word", "exact_n", F.col("x.r").alias("r"), F.col("x.b").alias("b")
    )
    return (
        kh.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("word", "exact_n")
        .agg(F.min("c").alias("cms_count"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cms_count") >= F.lit(_CMS_PHI) * F.col("n"))
        .select(
            "word",
            "cms_count",
            "exact_n",
            (F.col("cms_count") - F.col("exact_n")).alias("overcount"),
        )
    )


@query(
    "sk4_mg_heavy_hitters",
    oracle=f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM w)
    SELECT word, COUNT(*) AS exact_n,
      ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS share
    FROM w GROUP BY word
    HAVING COUNT(*) >= {_CMS_PHI} * (SELECT n FROM tot)
    """,
)
def sk4_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries φ-heavy hitters (φ=2%, k=64 counters/partition) — the
    candidate-free complement to sk3's CMS: per-partition mergeable MG
    summaries (mapInPandas, O(k) state) generate a guaranteed SUPERSET of
    the φ-heavy vocabulary, and an exact verification pass over the
    broadcast candidate set makes the output partition-independent —
    which is why a plain SQL frequency filter can oracle a
    sketch-generated answer at full value fidelity (see
    operators/text.py::mg_heavy_hitters for the superset argument)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.words(F.col("text"))).alias("word"))
    return text.mg_heavy_hitters(toks, phi=_CMS_PHI, k=64)


# --- multimodal --------------------------------------------------------------

@query(
    "mm1_decode_metadata",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      CAST(1 + CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 64 AS INTEGER) AS width,
      CAST(1 + CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 48 AS INTEGER) AS height,
      CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 256 AS DOUBLE) / 255.0 AS mean_pixel
    FROM documents
    """,
)
def mm1_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas decode (stubbed deterministically on md5 — the oracle states
    the same fake so the Pandas-UDF path itself is hash-checked)."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.decode_images(multimodal.attach_binary(docs))


@query(
    "mm2_resize_thumbs",
    oracle="""
    SELECT doc_id, 32 AS width, 32 AS height,
      CAST(1024 AS BIGINT) AS n_thumb_bytes,
      upper(substr(md5(text), 1, 8)) AS thumb_prefix
    FROM documents
    """,
)
def mm2_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail resize over binary payloads (mapInPandas, 1:1 rows). The
    thumb is the md5 digest tiled to 32×32; the oracle checks size + the
    first digest bytes, proving the Arrow batch round-trip byte-for-byte."""
    docs = read_table(spark, sf_dir, "documents")
    out = multimodal.resize_images(multimodal.attach_binary(docs), 32, 32)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.octet_length("thumb").cast("bigint").alias("n_thumb_bytes"),
        F.hex(F.substring("thumb", 1, 4)).alias("thumb_prefix"),
    )


@query(
    "mm3_sample_frames",
    oracle="""
    SELECT doc_id,
      CAST(k AS INTEGER) AS frame_idx,
      CAST(k * 100 AS BIGINT) AS frame_ts_ms,
      md5(text || CAST(k AS VARCHAR)) AS frame_md5
    FROM documents,
      UNNEST(range(LEAST(4, GREATEST(1, octet_length(encode(text)) // 100)))) AS t(k)
    """,
)
def mm3_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one payload explodes to N frame rows inside
    mapInPandas (the row-multiplying UDTF contract a video sampler needs);
    the oracle regenerates every fake frame hash with a lateral range."""
    docs = read_table(spark, sf_dir, "documents")
    out = multimodal.sample_frames(
        multimodal.attach_binary(docs), every_ms=100, max_frames=4
    )
    return out.select(
        "doc_id",
        "frame_idx",
        "frame_ts_ms",
        F.lower(F.hex("frame")).alias("frame_md5"),
    )


@query("sim3_ivf_topk")  # no SQL oracle: KMeans quantizer isn't SQL-expressible
def sim3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (live spherical k-means coarse quantizer,
    3-probe): the top-k scan assigns each corpus row to its list in-batch
    and scores only rows in the query's probed lists, exactly. Driver
    records a rows-only check; recall vs the exact search is asserted in
    tests/test_operators.py::test_ivf_recall."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=5
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


@query("sim5_pq_topk")  # no SQL oracle: KMeans codebooks aren't SQL-expressible
def sim5_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5: the top-k scan encodes each corpus
    row with 16 live subspace codebooks × 64 codes (16× compression of the
    64-dim corpus), cuts to the top R per query by the asymmetric-distance
    lookup and re-ranks those survivors exactly in the same batch. This is
    the compression half of FAISS IVFADC (Jégou et al. 2011). Codebooks
    sized for this corpus's razor-thin margin (planted pairs at cos
    0.45-0.51 vs random up to 0.4497 — measured recall 0.88@rerank4,
    1.00@rerank16; 8×16 books lose the margin to quantization noise).
    rerank="auto": the re-rank budget scales with corpus size —
    doubles per decade of growth, constants from the measured drift
    curve (ANN_RECALL_SCALE.json) — so THIS query keeps ≥0.95 recall at
    any SF without retuning; the production default, wired here.
    Driver records a rows-only check; recall vs the exact scan is
    asserted in tests/test_operators.py::test_pq_recall (sim3's gate
    pattern)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.pq_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        k=5, m_subs=16, ks=64, rerank="auto",
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))

def _sim5c_oracle() -> str:
    """sim5c oracle: the ENTIRE pruned ADC search restated in SQL over the
    pinned codebook literals — per-subspace encode argmin (ties to lowest
    code), the query×codeword LUT, the per-candidate LUT-sum (an explicit
    left-to-right add chain over the 16 pivoted subspace values, matching
    pq_topk's ltr accumulation bit for bit), the top-R cut, and the exact
    re-rank of survivors. repr() round-trips doubles, so both engines
    evaluate identical IEEE754 values at every step."""
    from consumer_loans_analysis_spark.operators.pq_codebooks import PQ_CODEBOOKS

    m_subs = len(PQ_CODEBOOKS)
    dsub = len(PQ_CODEBOOKS[0][0])
    vals = []
    for s, book in enumerate(PQ_CODEBOOKS):
        for cidx, cw in enumerate(book):
            lit = "[" + ", ".join(repr(x) for x in cw) + "]"
            cn = repr(float(sum(float(x) * float(x) for x in cw)))
            vals.append(f"({s}, {cidx}, {lit}, {cn})")
    cb_values = ",\n      ".join(vals)
    lsum = "l0"
    for s in range(1, m_subs):
        lsum = f"({lsum} + l{s})"
    piv = ", ".join(
        f"MAX(CASE WHEN m = {s} THEN val END) AS l{s}" for s in range(m_subs)
    )
    return f"""
    WITH cb(m, code, cw, cn) AS (VALUES
      {cb_values}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT c.vec_id, cb.m, cb.code,
          ROW_NUMBER() OVER (
            PARTITION BY c.vec_id, cb.m
            ORDER BY cb.cn - 2 * list_dot_product(
              list_slice(c.uv, cb.m * {dsub} + 1, cb.m * {dsub} + {dsub}), cb.cw
            ) ASC, cb.code ASC
          ) AS rn
        FROM u c CROSS JOIN cb WHERE c.vec_id >= 5
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, cb.m, cb.code,
        list_dot_product(
          list_slice(q.uv, cb.m * {dsub} + 1, cb.m * {dsub} + {dsub}), cb.cw
        ) AS val
      FROM u q CROSS JOIN cb WHERE q.vec_id < 5
    ),
    piv AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, {piv}
      FROM codes c JOIN lut l USING (m, code)
      GROUP BY l.query_id, c.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY {lsum} DESC, neighbor_id ASC
          ) AS r
        FROM piv
      ) WHERE r <= 20
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
        list_dot_product(q.uv, c.uv) AS cos
      FROM cand
      JOIN u q ON q.vec_id = cand.query_id
      JOIN u c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim5c_pq_pinned_topk", oracle=_sim5c_oracle())
def sim5c_pq_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim5's approximate rerank=4 ADC search, in the same fused scan,
    with FROZEN codebooks (``operators/pq_codebooks.py``: pq_topk's own
    per-subspace fit, pinned once on sf0.01; the production shape, since
    FAISS trains PQ once and ships the index). With literal codebooks and
    pq_topk's strictly
    left-to-right ADC arithmetic (see ``similarity._ltr_dot``), encoding,
    LUT scores, candidate pruning and the exact re-rank are ALL
    engine-portable — so unlike sim5 (rows-only: live fit) and sim5b
    (rerank ≥ corpus ≡ exact), this puts the pruned approximate search
    itself under a full DuckDB hash compare. Recall of the pinned pruned
    path stays gated in tests/test_operators.py::test_pq_pinned_recall."""
    from consumer_loans_analysis_spark.operators.pq_codebooks import PQ_CODEBOOKS

    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.pq_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        k=5, m_subs=16, ks=64, rerank=4, codebooks=PQ_CODEBOOKS,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


def _sim8_oracle(n_probe: int = 5, rerank_r: int = 20) -> str:
    """sim8 oracle: the COMPOSED IVFADC pruned search restated in SQL —
    sim3b's exact coarse routing (pinned centroid literals: corpus CASE
    assignment, query d ASC / list ASC probe ranking) gating sim5c's
    exact ADC (pinned codebook literals: encode argmin, LUT, ltr
    pivot-sum), then the top-R cut and the exact re-rank. Every stage is
    the byte-identical arithmetic of the two proven single-path oracles;
    the composition only adds the probed-list equi-join."""
    from consumer_loans_analysis_spark.operators.ivf_centroids import IVF_CENTROIDS
    from consumer_loans_analysis_spark.operators.pq_codebooks import PQ_CODEBOOKS

    m_subs = len(PQ_CODEBOOKS)
    dsub = len(PQ_CODEBOOKS[0][0])
    vals = []
    for s, book in enumerate(PQ_CODEBOOKS):
        for cidx, cw in enumerate(book):
            lit = "[" + ", ".join(repr(x) for x in cw) + "]"
            cn = repr(float(sum(float(x) * float(x) for x in cw)))
            vals.append(f"({s}, {cidx}, {lit}, {cn})")
    cb_values = ",\n      ".join(vals)
    lsum = "l0"
    for s in range(1, m_subs):
        lsum = f"({lsum} + l{s})"
    piv = ", ".join(
        f"MAX(CASE WHEN co.m = {s} THEN l.val END) AS l{s}" for s in range(m_subs)
    )
    n = len(IVF_CENTROIDS)
    dist = []
    for i, c in enumerate(IVF_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cn = repr(float(sum(x * x for x in c)))
        dist.append(f"{cn} - 2 * list_dot_product(uv, {lit}) AS d{i}")
    case = " ".join(
        f"WHEN d{i} <= LEAST({', '.join(f'd{j}' for j in range(i + 1, n))}) "
        f"THEN {i}"
        for i in range(n - 1)
    )
    dlist = "[" + ", ".join(f"d{i}" for i in range(n)) + "]"
    return f"""
    WITH cb(m, code, cw, cn) AS (VALUES
      {cb_values}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    dd AS (SELECT vec_id, uv, {", ".join(dist)} FROM u),
    ca AS (
      SELECT vec_id, CASE {case} ELSE {n - 1} END AS list_id
      FROM dd WHERE vec_id >= 5
    ),
    qp AS (
      SELECT vec_id, list_id FROM (
        SELECT vec_id, i - 1 AS list_id,
          ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY {dlist}[CAST(i AS INTEGER)] ASC, i ASC
          ) AS pr
        FROM (SELECT * FROM dd WHERE vec_id < 5) CROSS JOIN range(1, {n + 1}) t(i)
      ) WHERE pr <= {n_probe}
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT c.vec_id, cb.m, cb.code,
          ROW_NUMBER() OVER (
            PARTITION BY c.vec_id, cb.m
            ORDER BY cb.cn - 2 * list_dot_product(
              list_slice(c.uv, cb.m * {dsub} + 1, cb.m * {dsub} + {dsub}), cb.cw
            ) ASC, cb.code ASC
          ) AS rn
        FROM u c CROSS JOIN cb WHERE c.vec_id >= 5
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, cb.m, cb.code,
        list_dot_product(
          list_slice(q.uv, cb.m * {dsub} + 1, cb.m * {dsub} + {dsub}), cb.cw
        ) AS val
      FROM u q CROSS JOIN cb WHERE q.vec_id < 5
    ),
    piv AS (
      SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id, {piv}
      FROM qp
      JOIN ca ON ca.list_id = qp.list_id
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = qp.vec_id AND l.m = co.m AND l.code = co.code
      GROUP BY qp.vec_id, ca.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY {lsum} DESC, neighbor_id ASC
          ) AS r
        FROM piv
      ) WHERE r <= {rerank_r}
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
        list_dot_product(q.uv, c.uv) AS cos
      FROM cand
      JOIN u q ON q.vec_id = cand.query_id
      JOIN u c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim8_ivfadc_pinned_topk", oracle=_sim8_oracle())
def sim8_ivfadc_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC, the FAISS ``IndexIVFPQ`` production composition, runs every
    optional stage of the top-k scan at once: the pinned coarse quantizer
    (sim3b's ``operators/ivf_centroids.py``) routes each query to its
    5-of-8 nearest lists, ONLY rows in probed lists are ADC-scored with
    the pinned PQ codebooks (sim5c's ``operators/pq_codebooks.py``,
    by_residual=False so both pinned states stay individually proven),
    and the top-20 survivors re-rank exactly. BOTH prunings — which rows are never scored (routing) and
    which scored rows are never re-ranked (ADC cut) — sit under one
    full DuckDB hash compare; the oracle is the literal composition of
    the two proven single-path oracles plus a probed-list equi-join.
    Scale: one corpus pass, exact math only for probed rows, the shuffle
    carries ≤ partitions·n_q·R candidate ids, exact math touches 20
    rows/query — the 100 TB serving shape. Recall vs the exact scan is
    gated in tests/test_operators.py::test_ivfadc_pinned_recall."""
    from consumer_loans_analysis_spark.operators.ivf_centroids import IVF_CENTROIDS
    from consumer_loans_analysis_spark.operators.pq_codebooks import PQ_CODEBOOKS

    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.ivfadc_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        k=5, n_probe=5, m_subs=16, ks=64, rerank=4,
        centroids=IVF_CENTROIDS, codebooks=PQ_CODEBOOKS,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


_EXACT_TOPK_TAIL = """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
          / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim4_ivf_full_probe_topk", oracle=_COSINE_SQL + _EXACT_TOPK_TAIL)
def sim4_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe == n_lists probes every list, so the result must
    EQUAL exact top-k — this puts the scan's route stage itself (the
    spherical k-means fit, the in-batch list assignment, the probe mask,
    the merge window) under the DuckDB hash compare. sim3 stays the
    approximate 3-probe path whose recall is tested separately."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_lists=8,
        n_probe=8,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


@query(
    "sim6_prefix_rerank_topk",
    oracle=_COSINE_SQL + """
    , p AS (SELECT vec_id, v, v[1:16] AS pv FROM e),
    coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv,
        ROW_NUMBER() OVER (
          PARTITION BY q.vec_id
          ORDER BY list_dot_product(q.pv, c.pv)
            / (SQRT(list_dot_product(q.pv, q.pv)) * SQRT(list_dot_product(c.pv, c.pv)))
            DESC, c.vec_id ASC
        ) AS r
      FROM p q JOIN p c ON q.vec_id < 5 AND c.vec_id >= 5
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        list_dot_product(qv, cv)
          / (SQRT(list_dot_product(qv, qv)) * SQRT(list_dot_product(cv, cv))) AS cos
      FROM coarse WHERE r <= 20
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim6_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (funnel) retrieval: the top-k scan cuts to the top 20
    by the cosine of the FIRST 16 of 64 dimensions and re-ranks those
    survivors by the full-dimension cosine, in one corpus pass. This is
    Matryoshka-style adaptive search (Kusupati et al. 2022). The ANN
    ladder's trained-state-free rung: unlike sim3/sim5
    the candidate set is a pure function of the data, so the approximate
    path itself sits under the full DuckDB hash compare — no pinning, no
    twin. Funnel recall vs the exact scan is gated in
    tests/test_operators.py::test_prefix_rerank_recall."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.prefix_rerank_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        k=5, prefix_dim=16, rerank=4,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


def _sim3b_oracle() -> str:
    """sim3b oracle with the PINNED IVF centroids as SQL literals: corpus
    assignment (argmin over ‖c‖² − 2·u·c, ties to lowest list id — d11b's
    proven form), the query's 3-of-8 probe ranking (same distances, ROW_NUMBER
    over d ASC, list ASC ≡ Spark's array_sort of (d, list_id) structs), the
    pruned list equi-join, and the exact-cosine top-5 window. repr() round-
    trips doubles, so both engines evaluate the identical IEEE754 values."""
    from consumer_loans_analysis_spark.operators.ivf_centroids import IVF_CENTROIDS

    n = len(IVF_CENTROIDS)
    dist = []
    for i, c in enumerate(IVF_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cn = repr(float(sum(x * x for x in c)))
        dist.append(f"{cn} - 2 * list_dot_product(uv, {lit}) AS d{i}")
    case = " ".join(
        f"WHEN d{i} <= LEAST({', '.join(f'd{j}' for j in range(i + 1, n))}) "
        f"THEN {i}"
        for i in range(n - 1)
    )
    dlist = "[" + ", ".join(f"d{i}" for i in range(n)) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id, v,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    dd AS (SELECT vec_id, v, {", ".join(dist)} FROM u),
    c AS (
      SELECT vec_id, v, CASE {case} ELSE {n - 1} END AS list_id
      FROM dd WHERE vec_id >= 5
    ),
    qp AS (
      SELECT vec_id, v, list_id FROM (
        SELECT vec_id, v, i - 1 AS list_id,
          ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY {dlist}[CAST(i AS INTEGER)] ASC, i ASC
          ) AS pr
        FROM (SELECT * FROM dd WHERE vec_id < 5) CROSS JOIN range(1, {n + 1}) t(i)
      ) WHERE pr <= 5
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
          / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))) AS cos
      FROM qp q JOIN c USING (list_id)
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim3b_ivf_pinned_topk", oracle=_sim3b_oracle())
def sim3b_ivf_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim3's approximate pruned-probe (5-of-8) IVF search, in the same
    fused scan, with a FROZEN coarse quantizer
    (``operators/ivf_centroids.py``: ivf_topk's own sample fit, pinned once
    on sf0.01; the production shape, since quantizers are trained once and
    shipped with the index). With literal centroids the PRUNING
    itself — which lists each query probes, which corpus rows are never
    scored — is deterministic and SQL-expressible, so unlike sim3
    (rows-only: live fit) and sim4 (full probe ≡ exact), this puts the
    approximate path's exact behavior under a full DuckDB hash compare.
    Recall of the pruned search vs the exact scan stays gated in
    tests/test_operators.py::test_ivf_pinned_recall."""
    from consumer_loans_analysis_spark.operators.ivf_centroids import IVF_CENTROIDS

    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=5,
        centroids=IVF_CENTROIDS,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))


@query("sim5b_pq_full_rerank_topk", oracle=_COSINE_SQL + _EXACT_TOPK_TAIL)
def sim5b_pq_full_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with ``rerank·k ≥ |corpus|`` re-ranks EVERY candidate exactly, so
    the result must EQUAL exact top-k — the sim4 trick applied to sim5:
    the codebook fit, the in-batch encode and ADC cut, and the merge
    windows all sit under the DuckDB hash compare (any dropped or
    duplicated candidate breaks the exact ranking). sim5 stays the
    approximate rerank=4 path whose recall is gated in
    tests/test_operators.py::test_pq_recall. rerank=400·k=5 → R=2000 ≥
    corpus at every test sf (500/500/2000 embeddings)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.pq_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        k=5, m_subs=16, ks=64, rerank=400,
    )
    return out.withColumn("cos", F.round(F.col("cos"), 6))



@query(
    "t6_normalize_fingerprint",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    )
    SELECT doc_id, md5(norm) AS fp, CAST(length(norm) AS BIGINT) AS n_chars_norm
    FROM n
    """,
)
def t6_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup keying: lowercase, trim, collapse
    whitespace, then an md5 content fingerprint. The normalize+hash is pure
    Column expressions (JVM regex + digest, whole-stage codegen, map-only);
    at 100 TB this is the cheap pre-pass that feeds d1's fingerprint
    groupBy so raw bodies never shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# per-100 keep rates by language: downsample the dominant language toward
# a balanced mix (the "temperature"/reweighting step of corpus curation)
_O7_RATES = {"en": 30, "de": 90, "es": 85, "fr": 95, "zh": 85}


@query(
    "o7_lang_balanced_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(concat('0x', substr(md5(concat('o7:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100
      < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _O7_RATES.items())} ELSE 0 END
    """,
)
def o7_lang_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing downsample: per-language deterministic Bernoulli
    keep-rates via the portable content hash (o4b's scale-sampling property:
    the kept SET is a pure function of the data — reproducible across
    engines, partitionings, and retries, which is what corpus-mixture
    reweighting needs at 100 TB). Rates ride a literal CASE ladder — pure
    codegen, map-only, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    h = text.portable_hash(
        F.concat(F.lit("o7:"), F.col("doc_id").cast("string"))
    )
    rate = F.lit(0)
    for k, v in _O7_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return docs.filter((h % 100) < rate).select("doc_id", "lang", "source")


@query(
    "sq1_int8_quantization",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
      SELECT vec_id, v,
        127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
      FROM e
      WHERE list_max(list_transform(v, x -> abs(x))) > 0
    ), qq AS (
      SELECT vec_id, v, scale,
        list_transform(v, x -> CAST(floor(x * scale + 0.5) AS DOUBLE)) AS qv
      FROM q
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
      ROUND(list_dot_product(v, qv)
            / (SQRT(list_dot_product(v, v)) * SQRT(list_dot_product(qv, qv))), 6)
        AS recon_cos
    FROM qq
    """,
)
def sq1_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column with the
    per-vector reconstruction cosine (scale cancels in cosine, so the
    fidelity check needs no dequantize). Map-only pure Column arithmetic —
    the 4×-compression storage path for embedding tables at 100 TB."""
    emb = read_table(spark, sf_dir, "embeddings")
    scale, qvec = similarity.quantize_int8(F.col("embedding"))
    out = emb.select("vec_id", scale.alias("scale"), F.col("embedding").alias("v"),
                     qvec.alias("qv")).filter(F.col("scale").isNotNull())
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(similarity.cosine(F.col("v"), F.col("qv")), 6).alias("recon_cos"),
    )


@query(
    "pipe1_corpus_curation",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, lang, text, len(w) AS n_words,
        ROUND(
          LEAST(len(w) / 200.0, 1.0) * 0.4
          + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
          + LEAST((CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
                   / len(w)) * 5.0, 1.0) * 0.2
        , 6) AS quality_score
      FROM f
    ), filtered AS (
      SELECT * FROM s WHERE quality_score >= 0.35 AND n_words >= 30
    ), deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      FROM filtered
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words, quality_score
    FROM deduped
    WHERE rk = 1
      AND CAST(concat('0x', substr(md5(concat('o7:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100
        < CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 90 WHEN 'es' THEN 85 WHEN 'fr' THEN 95 WHEN 'zh' THEN 85 ELSE 0 END
    """,
)
def pipe1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality filter (Gopher-style composite
    score ≥ 0.35, ≥ 30 words) → exact dedup keeping the lowest doc_id per
    content fingerprint → language-rebalancing deterministic downsample
    (o7's rates). One pipeline a pretraining-data user runs verbatim.

    Plan shape: the quality stage is map-only (quality filter runs BEFORE
    the dedup shuffle, shrinking it); dedup is one window shuffle on the
    md5 fingerprint (32 B keys, never bodies); the rebalance filter is
    map-only again. ONE shuffle end-to-end."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    q = text.quality_features(docs, "text")
    filtered = q.select(
        "doc_id", "lang", "text", "n_words",
        F.round("quality_score", 6).alias("quality_score"),
    ).filter((F.col("quality_score") >= 0.35) & (F.col("n_words") >= 30))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = filtered.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    h = text.portable_hash(F.concat(F.lit("o7:"), F.col("doc_id").cast("string")))
    rate = F.lit(0)
    for k, v in _O7_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return deduped.filter((h % 100) < rate).select(
        "doc_id", "lang", "n_words", "quality_score"
    )


@query(
    "mix1_temperature_mixture",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
      FROM documents
    ), per_source AS (
      SELECT source, CAST(SUM(n_words) AS BIGINT) AS t_s FROM d GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(t_s) AS BIGINT) AS t_all,
        CAST(SUM(CAST(sqrt(CAST(t_s AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS z
      FROM per_source
    ), rates AS (
      SELECT source,
        least(1.0, ((0.5 * CAST(t_all AS DOUBLE))
                    * (sqrt(CAST(t_s AS DOUBLE)) / z))
                   / CAST(t_s AS DOUBLE)) AS p_s
      FROM per_source, tot
    )
    SELECT d.doc_id, d.source, CAST(d.n_words AS BIGINT) AS n_words,
      ROUND(rates.p_s, 6) AS p_keep
    FROM d JOIN rates USING (source)
    WHERE CAST(concat('0x', substr(md5(concat('mix1:', CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
          / 4294967296.0 < rates.p_s
    """,
)
def mix1_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the PaLM/DoReMi corpus-mixture op):
    per-source keep-rates are COMPUTED from the data — source weights
    w_s ∝ T_s^τ (τ = 0.5: up-weights small domains, flattens big ones),
    normalized so the kept corpus targets half the total tokens:
    p_s = min(1, B·(w_s/Σw)/T_s) with B = 0.5·ΣT_s. Docs are then kept by
    the deterministic content-hash Bernoulli (the o4b/o7 property: the
    kept SET is a pure function of the data — reproducible across engines,
    partitionings, retries, and incremental appends).

    Plan shape: one per-source token aggregate (#sources rows) →
    1-row global aggregate → rates broadcast-joined back → map-only hash
    filter. At 100 TB the per-source token totals are table metadata; the
    sampling pass itself is scan-rate with zero shuffle. Engine-parity
    note: Σ sqrt(T_s) accumulates in DECIMAL(38,18) on both sides (sqrt is
    IEEE-correctly-rounded, decimal addition is exact and order-free), so
    the boundary comparison cannot flip between Spark and the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_words")
    )
    per_source = d.groupBy("source").agg(F.sum("n_words").alias("t_s"))
    glob = per_source.agg(
        F.sum("t_s").alias("t_all"),
        F.sum(F.sqrt(F.col("t_s").cast("double")).cast("decimal(38,18)"))
        .cast("double")
        .alias("z"),
    )
    rates = per_source.crossJoin(F.broadcast(glob)).select(
        "source",
        F.least(
            F.lit(1.0),
            (
                (F.lit(0.5) * F.col("t_all").cast("double"))
                * (F.sqrt(F.col("t_s").cast("double")) / F.col("z"))
            )
            / F.col("t_s").cast("double"),
        ).alias("p_s"),
    )
    unit = (
        text.portable_hash(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string")))
        / F.lit(4294967296.0)
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(unit < F.col("p_s"))
        .select(
            "doc_id",
            "source",
            F.col("n_words").cast("long").alias("n_words"),
            F.round("p_s", 6).alias("p_keep"),
        )
    )


@query(
    "d7_duplicate_spans",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sp AS (
      SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+19], ' ') AS s
      FROM d, UNNEST(range(1, len(w) - 18)) AS t(i)
      WHERE len(w) >= 20
    ), df_counts AS (
      SELECT s, COUNT(*) AS span_df FROM sp GROUP BY s
    ), joined AS (
      SELECT sp.id, df_counts.span_df FROM sp JOIN df_counts USING (s)
    ), per_doc AS (
      SELECT id, COUNT(*) AS n_spans,
        COUNT(*) FILTER (span_df >= 2) AS n_dup_spans
      FROM joined GROUP BY id
    )
    SELECT d.doc_id, COALESCE(p.n_spans, 0) AS n_spans,
      COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
      ROUND(CAST(p.n_dup_spans AS DOUBLE) / p.n_spans, 6) AS dup_span_ratio
    FROM d LEFT JOIN per_doc p ON p.id = d.doc_id
    """,
)
def d7_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication signal (Lee et al. 2022
    style): per document, how many of its distinct 20-word spans occur in
    ≥ 2 documents, and the duplicated ratio. Inverted-index shape on 8-byte
    span hashes (span text never shuffles); the oracle states the same
    semantics over raw span strings."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, span_words=20)


_D16_SENTINEL = " ".join(f"zz{i}" for i in range(25))


@query(
    "d16_substring_removal",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 20 = 0 THEN text || ' {_D16_SENTINEL}'
             ELSE text END AS text
      FROM documents
    ), dd AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
    occ AS (
      SELECT doc_id, CAST(i AS BIGINT) AS s,
        md5(array_to_string(w[CAST(i+1 AS INT) : CAST(i+10 AS INT)], ' ')) AS sh
      FROM dd, UNNEST(range(0, GREATEST(len(w) - 9, 0))) AS t(i)
    ), df_counts AS (
      SELECT sh, COUNT(*) AS span_df
      FROM (SELECT DISTINCT doc_id, sh FROM occ) GROUP BY sh
    ), ivs AS (
      SELECT o.doc_id, list(struct_pack(s := o.s, e := o.s + 10)) AS ivs
      FROM occ o JOIN df_counts c ON c.sh = o.sh
      WHERE c.span_df >= 2 GROUP BY o.doc_id
    ), r AS (
      SELECT dd.doc_id, dd.w, COALESCE(ivs.ivs, []) AS ivs
      FROM dd LEFT JOIN ivs ON ivs.doc_id = dd.doc_id
    ), k AS (
      SELECT doc_id, w,
        list_transform(
          list_filter(range(1, len(w) + 1),
            i -> len(list_filter(ivs, v -> i - 1 >= v.s AND i - 1 < v.e)) = 0),
          i -> w[CAST(i AS INT)]) AS kept
      FROM r
    )
    SELECT doc_id,
      CAST(len(w) AS BIGINT) AS n_words,
      CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
      ROUND(CAST(len(w) - len(kept) AS DOUBLE) / len(w), 6) AS removed_frac,
      md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5
    FROM k
    """,
)
def d16_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-substring REMOVAL (Lee et al. 2022 ExactSubstr — cut the
    duplicated substring, keep the document;
    ``operators/dedup.py::remove_duplicate_spans``): every 10-word span
    occurring in ≥ 2 documents is excised from all of them. Every 20th
    document gets a fixed 25-word sentinel appended so the removal path
    is value-exercised (random 31-word-vocab docs share no natural
    10-word span): the sentinel's interior spans are cross-doc dups and
    their interval union covers exactly the appended words, while
    junction spans stay unique per doc — so every planted doc loses ≥
    the 25 sentinel words, and one that loses exactly 25 provably
    restores its ORIGINAL text (pinned in pytest). The corpus also has
    NATURAL cross-doc phrase runs (41/475 docs at sf0.001 lose 10-165
    words) — genuine removals exercised without planting. md5 span keys
    in both
    engines; the d2/d7 inverted-index cost class plus a map-side array
    rebuild."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.col("text"), F.lit(" " + _D16_SENTINEL)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.remove_duplicate_spans(docs, span_words=10)


@query(
    "d8_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE source <> 'src19'
    )
    SELECT doc_id, source FROM documents
    WHERE source = 'src19'
      AND md5(text) NOT IN (SELECT fp FROM corpus)
    """,
)
def d8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-batch dedup — the production pattern at 100 TB: a new
    batch (here source src19) is anti-joined against the existing corpus's
    FINGERPRINT table, so the historical corpus is never re-scanned or
    re-shuffled beyond its 32 B/doc fingerprints (which a real pipeline
    keeps materialized). Anti-join on md5 keys; bodies never move."""
    docs = read_table(spark, sf_dir, "documents")
    corpus_fp = (
        docs.filter(F.col("source") != "src19")
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("source") == "src19").withColumn("fp", F.md5("text"))
    return batch.join(corpus_fp, "fp", "left_anti").select("doc_id", "source")


@query(
    "d12_bloom_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE source <> 'src19'
    )
    SELECT doc_id, source FROM documents
    WHERE source = 'src19'
      AND md5(text) NOT IN (SELECT fp FROM corpus)
    """,
)
def d12_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8's incremental dedup behind a Bloom pre-filter
    (``dedup.bloom_incremental_dedupe``): the corpus fingerprint table
    folds into a ~1 MB bitmap via one distributed ``bit_or`` aggregation
    (Spark's internal ``bloom_filter_agg`` isn't public — this is the
    engine-native equivalent); definite-new batch rows pass with ZERO
    exchange against history, and only Bloom-positive rows (~fpp·batch +
    true dups) pay the exact anti-join. The oracle is the plain exact
    anti-join — the operator's contract is bit-identical output, with the
    per-batch shuffle of the historical table removed at scale."""
    docs = read_table(spark, sf_dir, "documents")
    corpus_fp = (
        docs.filter(F.col("source") != "src19")
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("source") == "src19").withColumn("fp", F.md5("text"))
    # explicit expected_items keeps construction action-free; generous for
    # every test SF (undersizing only raises fpp → more verify traffic,
    # never wrong output)
    return dedup.bloom_incremental_dedupe(
        batch, corpus_fp, expected_items=65536, fpp=0.01
    ).select("doc_id", "source")


@query(
    "join_salted_skew",
    oracle="""
    WITH dim(event_type, weight) AS (
      VALUES ('view', 1.0), ('click', 2.0), ('purchase', 10.0),
             ('signup', 5.0), ('error', 0.0)
    )
    SELECT e.event_type, COUNT(*) AS n,
      CAST(SUM(CAST(e.value * d.weight AS DECIMAL(25,6))) AS DOUBLE) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware salted join: events join a 5-row dimension on
    event_type — a 5-distinct-value key is the canonical pathological
    shuffle-join skew (every row lands on ≤ 5 reducers). ``salted_join``
    spreads each hot key over 16 salts deterministically; result is
    proven identical to the plain join (oracle + pytest). At scale prefer
    AQE skew splitting where stats exist; this is the explicit fallback."""
    from consumer_loans_analysis_spark.functions.relational import (
        decimal_sum,
        salted_join,
    )

    e = read_table(spark, sf_dir, "events").select("event_type", "value")
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        schema="event_type string, weight double",
    )
    joined = salted_join(e, dim, on="event_type", n_salts=16)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("value") * F.col("weight")).alias("weighted_value"),
    )


@query(
    "pack1_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
        COALESCE(CAST(SUM(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS BIGINT), 0) AS cum_before
      FROM t
    )
    SELECT source, CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS seq_id,
      COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """,
)
def pack1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing for pretraining: documents are laid
    out in (source, doc_id) order and each is assigned to the 512-token
    training sequence where its first token lands (floor(cum_tokens/512)
    over a 1-PRECEDING running sum); output is per-sequence doc count and
    token fill. Packing per SOURCE shard — one window shuffle on the shard
    key, never a global sort (the real pipeline packs within shards for
    exactly this reason)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(text.words(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return (
        c.withColumn("seq_id", F.floor(F.col("cum_before") / F.lit(512.0)).cast("long"))
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@query(
    "c1_eval_contamination",
    oracle="""
    WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    sp AS (
      SELECT DISTINCT doc_id, source, array_to_string(w[i:i+12], ' ') AS s
      FROM d, UNNEST(range(1, len(w) - 11)) AS t(i)
      WHERE len(w) >= 13
    ),
    train_spans AS (SELECT DISTINCT s FROM sp WHERE source <> 'src19'),
    eval_docs AS (SELECT doc_id, s FROM sp WHERE source = 'src19')
    SELECT e.doc_id,
      COUNT(*) AS n_spans,
      CAST(COUNT(*) FILTER (t.s IS NOT NULL) AS BIGINT) AS n_contaminated,
      (COUNT(*) FILTER (t.s IS NOT NULL)) > 0 AS is_contaminated
    FROM eval_docs e LEFT JOIN train_spans t USING (s)
    GROUP BY e.doc_id
    """,
)
def c1_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (the GPT-3/PaLM 13-gram rule): for each
    held-out document (source src19), count its distinct 13-word spans
    that also occur anywhere in the training shards, and flag any overlap.
    Inverted-index left-join on 8-byte span hashes — the eval set is tiny
    relative to the corpus, so at 100 TB this is a broadcast-able probe
    side against the training span index (which a real pipeline keeps
    materialized, like d8's fingerprints)."""
    docs = read_table(spark, sf_dir, "documents")
    span_words = 13
    w = text.words(F.col("text"))
    spans = F.when(
        F.size(w) >= span_words,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (span_words - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(w, i, span_words), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    sp = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(spans)).alias("sh")
    )
    train_spans = sp.filter(F.col("source") != "src19").select("sh").distinct()
    eval_spans = sp.filter(F.col("source") == "src19")
    hit = train_spans.withColumn("hit", F.lit(1))
    return (
        eval_spans.join(hit, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit") > 0).alias("is_contaminated"),
        )
    )


@query(
    "o8_hash_split",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
        CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS b
      FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split,
      COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs
    FROM h GROUP BY 1
    """,
)
def o8_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment from the portable
    content-key hash — the split is a pure function of the data (stable
    across engines, partitionings, reruns, and incremental appends: a new
    document never moves an old one between splits, unlike randomSplit).
    Map-only + one tiny aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    b = text.portable_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("lang").alias("n_langs"))
    )


@query(
    "chunk1_context_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), starts AS (
      SELECT doc_id, w, UNNEST(range(1, GREATEST(len(w) - 8, 1) + 1, 24)) AS s
      FROM d
    )
    SELECT doc_id,
      CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
      CAST(LEAST(32, len(w) - s + 1) AS BIGINT) AS n_words,
      md5(array_to_string(w[s:LEAST(s + 31, len(w))], ' ')) AS chunk_md5
    FROM starts
    """,
)
def chunk1_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (the pretraining tokenize-and-pack
    precursor): split each document into 32-word chunks with an 8-word
    overlap (stride 24 — window/overlap sized to this corpus's 10-99-word
    synthetic docs; a production 128/16 is the same plan), emitting the
    chunk id, its length, and an md5
    over the exact chunk text so the oracle hash-checks the SPLIT ITSELF,
    not just counts. Chunk starts that would yield only overlap-tail
    words are not emitted (start positions run to len−8, so every chunk
    adds ≥1 new word and short docs produce exactly one chunk; division
    by the stride floors exactly because kept starts are 1 + k·stride).

    Plan shape: map-only — a per-row start-position ``sequence`` explode
    and pure slice/hash arithmetic; no shuffle anywhere, scan-rate at any
    scale (the explode multiplies rows by ~len/112, the same factor the
    chunked OUTPUT inherently has)."""
    docs = read_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(w) - 8, F.lit(1)), F.lit(24)
    )
    d = docs.select("doc_id", w.alias("w"), F.explode(starts).alias("s"))
    return d.select(
        "doc_id",
        ((F.col("s") - 1) / 24).cast("long").alias("chunk_idx"),
        F.least(F.lit(32), F.size("w") - F.col("s") + 1)
        .cast("long")
        .alias("n_words"),
        F.md5(
            F.array_join(
                F.slice(F.col("w"), F.col("s"), F.least(F.lit(32), F.size("w") - F.col("s") + 1)),
                " ",
            )
        ).alias("chunk_md5"),
    )


@query(
    "dq2_robust_outliers",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
      FROM documents
    ), med AS (
      SELECT source, median(n_words) AS med FROM d GROUP BY source
    ), dev AS (
      SELECT d.doc_id, d.source, d.n_words, abs(d.n_words - med.med) AS absdev
      FROM d JOIN med USING (source)
    ), mad AS (
      SELECT source, median(absdev) AS mad FROM dev GROUP BY source
    )
    SELECT dev.doc_id, dev.source, CAST(dev.n_words AS BIGINT) AS n_words,
      ROUND(0.6745 * dev.absdev / mad.mad, 4) AS robust_z
    FROM dev JOIN mad USING (source)
    WHERE mad.mad > 0 AND 0.6745 * dev.absdev / mad.mad > 1.5
    """,
)
def dq2_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain robust length-outlier detection (Iglewicz-Hoaglin
    modified z-score): flag documents whose word count deviates from
    their source's MEDIAN by more than 1.5 robust sigmas
    (0.6745·|n − median| / MAD; production cut is typically 3.5 — this
    corpus's synthetic lengths are tight, so the test threshold sits
    where the rule actually fires) — the outlier rule that survives
    heavy-tailed length distributions where mean/std flag half the
    corpus. A standard curation pass before length-based packing.

    Plan shape: two per-source exact-percentile aggregates (#sources
    groups) + two broadcast joins back; the doc table never shuffles.
    Exact ``percentile`` buffers each group's values — the CORRECTNESS
    path here; at 100 TB swap in ``approx_percentile`` (t-digest sketch,
    bounded memory, one pass) — the flag threshold dwarfs the sketch
    error. MAD = 0 sources (half-plus docs identical length) are
    excluded rather than dividing by zero — both engines would disagree
    on inf handling, and 'every doc an outlier' is statistically wrong."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_words")
    )
    med = d.groupBy("source").agg(F.expr("percentile(n_words, 0.5)").alias("med"))
    dev = d.join(F.broadcast(med), "source").withColumn(
        "absdev", F.abs(F.col("n_words") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(F.expr("percentile(absdev, 0.5)").alias("mad"))
    z = F.lit(0.6745) * F.col("absdev") / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "source")
        .filter((F.col("mad") > 0) & (z > 1.5))
        .select(
            "doc_id",
            "source",
            F.col("n_words").cast("long").alias("n_words"),
            F.round(z, 4).alias("robust_z"),
        )
    )


_DQ3_STOPLIST = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@query(
    "dq3_gopher_rules",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    f AS (
      SELECT doc_id, len(w) AS n_words,
        CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
          / len(w) AS mean_word_len,
        (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
          + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
          / len(w) AS symbol_ratio,
        CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
          / len(w) AS alpha_word_ratio,
        len(list_filter(w, x -> list_contains({_DQ3_STOPLIST}, x))) AS n_stopwords
      FROM d
    )
    SELECT doc_id,
      CAST(n_words AS BIGINT) AS n_words, mean_word_len, symbol_ratio,
      alpha_word_ratio, CAST(n_stopwords AS BIGINT) AS n_stopwords,
      n_words BETWEEN 20 AND 60 AS ok_word_count,
      mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
      symbol_ratio <= 0.1 AS ok_symbol_ratio,
      alpha_word_ratio >= 0.8 AS ok_alpha_words,
      n_stopwords >= 2 AS ok_stopwords,
      (n_words BETWEEN 20 AND 60) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
        AND n_stopwords >= 2 AS keep
    FROM f
    """,
)
def dq3_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 §A1.1) with the
    per-rule audit columns curation pipelines keep — WHICH rule killed a
    document, not just that it died. Word-count bounds rescaled 50–100k →
    20–60 for this short-document corpus (the d5/d11 threshold-rescaling
    convention; 241/500 docs pass at sf0.01 — both branches exercised);
    all other thresholds are the paper's. Map-only Column expressions —
    composes with o9/dq2 in pipe1-style curation at scan rate.
    See ``operators/text.py::gopher_quality_rules``."""
    docs = read_table(spark, sf_dir, "documents")
    out = text.gopher_quality_rules(docs, min_words=20, max_words=60)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_word_ratio", "n_stopwords", "ok_word_count",
        "ok_mean_word_len", "ok_symbol_ratio", "ok_alpha_words",
        "ok_stopwords", "keep",
    )


@query(
    "dq7_gopher_repetition",
    oracle="""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 25 = 0 THEN text || ' ' || text ELSE text END AS text
      FROM documents
    ), dd AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS total_chars,
        string_split(text, ' ') AS w
      FROM d
    ), occ0 AS (
      SELECT doc_id, total_chars, n, w,
        unnest(range(0, GREATEST(len(w) - n + 1, 0))) AS pos
      FROM dd, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS nn(n)
    ), occ AS (
      SELECT doc_id, total_chars, n, pos,
        array_to_string(w[CAST(pos+1 AS INT) : CAST(pos+n AS INT)], ' ') AS ngram,
        CAST(CASE WHEN pos = 0 THEN 0
             ELSE length(array_to_string(w[1 : CAST(pos AS INT)], ' ')) + 1
             END AS BIGINT) AS s,
        CAST(length(array_to_string(w[1 : CAST(pos+n AS INT)], ' ')) AS BIGINT) AS e
      FROM occ0
    ), grp AS (
      SELECT doc_id, total_chars, n, ngram,
        COUNT(*) AS c, length(ngram) AS l
      FROM occ WHERE n <= 4 GROUP BY doc_id, total_chars, n, ngram
    ), top AS (
      SELECT doc_id, n,
        CASE WHEN MAX(struct_pack(c := c, l := l)).c > 1
          THEN ROUND(CAST(MAX(struct_pack(c := c, l := l)).c
                          * MAX(struct_pack(c := c, l := l)).l AS DOUBLE)
                     / ANY_VALUE(total_chars), 6)
          ELSE 0.0 END AS f
      FROM grp GROUP BY doc_id, n
    ), cnts AS (
      SELECT doc_id, total_chars, n, s, e,
        COUNT(*) OVER (PARTITION BY doc_id, n, ngram) AS cc
      FROM occ WHERE n >= 5
    ), iv AS (
      SELECT doc_id, total_chars, n, s, e,
        MAX(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM cnts WHERE cc > 1
    ), dup AS (
      SELECT doc_id, n,
        ROUND(CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, -1)), 0)) AS DOUBLE)
              / ANY_VALUE(total_chars), 6) AS f
      FROM iv GROUP BY doc_id, n
    ), allf AS (
      SELECT * FROM top UNION ALL SELECT * FROM dup
    ), p AS (
      SELECT dd.doc_id,
        COALESCE(MAX(CASE WHEN n = 2 THEN f END), 0.0) AS top_2gram_frac,
        COALESCE(MAX(CASE WHEN n = 3 THEN f END), 0.0) AS top_3gram_frac,
        COALESCE(MAX(CASE WHEN n = 4 THEN f END), 0.0) AS top_4gram_frac,
        COALESCE(MAX(CASE WHEN n = 5 THEN f END), 0.0) AS dup_5gram_frac,
        COALESCE(MAX(CASE WHEN n = 6 THEN f END), 0.0) AS dup_6gram_frac,
        COALESCE(MAX(CASE WHEN n = 7 THEN f END), 0.0) AS dup_7gram_frac,
        COALESCE(MAX(CASE WHEN n = 8 THEN f END), 0.0) AS dup_8gram_frac,
        COALESCE(MAX(CASE WHEN n = 9 THEN f END), 0.0) AS dup_9gram_frac,
        COALESCE(MAX(CASE WHEN n = 10 THEN f END), 0.0) AS dup_10gram_frac
      FROM dd LEFT JOIN allf ON dd.doc_id = allf.doc_id
      GROUP BY dd.doc_id
    )
    SELECT doc_id,
      top_2gram_frac, top_3gram_frac, top_4gram_frac,
      dup_5gram_frac, dup_6gram_frac, dup_7gram_frac,
      dup_8gram_frac, dup_9gram_frac, dup_10gram_frac,
      top_2gram_frac <= 0.20 AS ok_top_2gram,
      top_3gram_frac <= 0.18 AS ok_top_3gram,
      top_4gram_frac <= 0.16 AS ok_top_4gram,
      dup_5gram_frac <= 0.15 AS ok_dup_5gram,
      dup_6gram_frac <= 0.14 AS ok_dup_6gram,
      dup_7gram_frac <= 0.13 AS ok_dup_7gram,
      dup_8gram_frac <= 0.12 AS ok_dup_8gram,
      dup_9gram_frac <= 0.11 AS ok_dup_9gram,
      dup_10gram_frac <= 0.10 AS ok_dup_10gram,
      top_2gram_frac <= 0.20 AND top_3gram_frac <= 0.18
        AND top_4gram_frac <= 0.16 AND dup_5gram_frac <= 0.15
        AND dup_6gram_frac <= 0.14 AND dup_7gram_frac <= 0.13
        AND dup_8gram_frac <= 0.12 AND dup_9gram_frac <= 0.11
        AND dup_10gram_frac <= 0.10 AS keep
    FROM p
    """,
)
def dq7_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION-removal battery (Rae et al. 2021 §A1.2,
    ``operators/text.py::gopher_repetition_rules``) — dq3's companion:
    top n-gram char fraction (n=2..4, count>1 only) and duplicate-n-gram
    char fraction (n=5..10, interval-union char accounting, no double
    counting), all at the paper's thresholds. Every 25th document is
    deterministically DOUBLED (text || ' ' || text) so the
    duplicate-span interval-union path is value-exercised by the oracle
    (random 31-word-vocab docs almost never repeat a 5-gram naturally;
    the planted docs drive dup fracs to ≈1 and fail every rule). One
    posexplode + doc-keyed windows; no corpus-sized window (the
    a4/a8-style per-doc partitions are bounded by document length)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.gopher_repetition_rules(docs)


@query(
    "dq5_c4_line_rules",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    l AS (
      SELECT doc_id,
        list_transform(
          generate_series(0, CAST(floor((len(w) + 9) / 10.0) AS BIGINT) - 1, 1),
          i -> w[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)]
        ) AS lines
      FROM d
    ),
    f AS (
      SELECT doc_id, lines,
        list_filter(lines, L ->
          NOT (len(L) < 5)
          AND NOT list_has_any(L, ['dup'])
          AND NOT (10 * CAST(list_sum(list_transform(L, x -> length(x))) AS BIGINT)
                   < 42 * CAST(len(L) AS BIGINT))
        ) AS kept
      FROM l
    )
    SELECT doc_id,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(list_filter(lines, L -> len(L) < 5)) AS BIGINT) AS n_short_lines,
      CAST(len(list_filter(lines, L -> list_has_any(L, ['dup']))) AS BIGINT)
        AS n_denylist_lines,
      CAST(len(list_filter(lines, L ->
        10 * CAST(list_sum(list_transform(L, x -> length(x))) AS BIGINT)
        < 42 * CAST(len(L) AS BIGINT))) AS BIGINT) AS n_low_mwl_lines,
      CAST(len(kept) AS BIGINT) AS n_kept_lines,
      -- DuckDB's array_to_string is NULL on an empty list; Spark's
      -- array_join is ''. COALESCE so zero-survivor docs hash alike.
      md5(COALESCE(
        array_to_string(list_transform(kept, L -> array_to_string(L, ' ')), ' '),
        '')) AS cleaned_md5,
      len(kept) >= 3 AS keep
    FROM f
    """,
)
def dq5_c4_line_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning battery (Raffel et al. 2020 §2.2) with
    per-rule line-kill audit counts and the order-preserving cleaned
    text's md5 — the line-granular companion to dq3's document-level
    Gopher rules. Thresholds tuned so every rule fires at sf0.01 (218
    short / 25 denylist / 614 low-mean-word-length lines; 380/500 docs
    clear the ≥3-kept-lines page rule — both branches exercised).
    Map-only higher-order array expressions: chunking, rules, audit and
    reassembly all happen inside the row — zero shuffles, no explode
    (plan-pinned). See ``operators/text.py::c4_line_rules``."""
    docs = read_table(spark, sf_dir, "documents")
    out = text.c4_line_rules(docs)
    return out.select(
        "doc_id", "n_lines", "n_short_lines", "n_denylist_lines",
        "n_low_mwl_lines", "n_kept_lines", "cleaned_md5", "keep",
    )


@query(
    "drift1_token_kl",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), c AS (
      SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY 1, 2
    ), t AS (
      SELECT source, w, c_sw,
        CAST(SUM(c_sw) OVER (PARTITION BY source) AS BIGINT) AS c_s,
        CAST(SUM(c_sw) OVER (PARTITION BY w) AS BIGINT) AS c_w,
        CAST(SUM(c_sw) OVER () AS BIGINT) AS c_tot
      FROM c
    )
    SELECT source,
      ROUND(SUM((CAST(c_sw AS DOUBLE) / c_s)
                * ln((CAST(c_sw AS DOUBLE) / c_s) / (CAST(c_w AS DOUBLE) / c_tot))), 6)
        AS kl_vs_global,
      COUNT(*) AS n_words
    FROM t GROUP BY source
    """,
)
def drift1_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift monitor: KL(P_source || P_global) over word
    unigram distributions, per source shard. One explode + one
    (source, word) count shuffle; the heavy token table is aggregated
    exactly once (the counted table is localCheckpoint'ed so its two
    consumers don't re-explode the corpus — on a cluster this is a
    persist-to-local-disk; blocks are GC'd with the DataFrame). The
    marginals avoid serial windows entirely: ``c_s`` is a
    #sources-row aggregate broadcast-joined back, ``c_tot`` a 1-row
    aggregate cross-joined broadcast (the t8/t13 n_docs/avgdl idiom) —
    a ``Window.partitionBy()`` here would funnel the whole
    (source × vocab) table through ONE partition. ``c_w`` stays a
    per-word window (groups bounded by #sources). Every source word
    exists globally by construction, so no zero-support terms."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(text.words(F.col("text"))).alias("w"))
    c = (
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .localCheckpoint()
    )
    cs = c.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    tot = cs.agg(F.sum("c_s").alias("c_tot"))
    t = (
        c.withColumn("c_w", F.sum("c_sw").over(Window.partitionBy("w")))
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("c_sw").cast("double") / F.col("c_s")
    q = F.col("c_w").cast("double") / F.col("c_tot")
    return t.groupBy("source").agg(
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_global"),
        F.count(F.lit(1)).alias("n_words"),
    )


# Token denylist for the oracle-gated redaction query: the synthetic corpus
# has no digits/emails, so PII_PATTERNS would be a zero-match (trivial) test;
# these word-boundary patterns hit real tokens and exercise the identical
# regexp_count/regexp_replace path. The oracle below counts both patterns on
# the ORIGINAL text — valid ONLY because these two tokens are pairwise
# disjoint; redact() counts sequentially on already-scrubbed text, so an
# oracle for overlapping patterns (e.g. PII_PATTERNS, where phone overlaps
# ipv4) must replicate the sequential scrub (see operators/text.py::redact).
_T7_PATTERNS = {
    "keyword": r"\bkey\b",
    "hashword": r"\bhash\b",
}


@query(
    "t7_redact_denylist",
    oracle=r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\bkey\b')) AS BIGINT) AS n_keyword,
      CAST(len(regexp_extract_all(text, '\bhash\b')) AS BIGINT) AS n_hashword,
      CAST(len(regexp_extract_all(text, '\bkey\b'))
           + len(regexp_extract_all(text, '\bhash\b')) AS BIGINT) AS n_redactions,
      md5(regexp_replace(regexp_replace(text, '\bkey\b', '[REDACTED]', 'g'),
                         '\bhash\b', '[REDACTED]', 'g')) AS redacted_fp
    FROM documents
    WHERE len(regexp_extract_all(text, '\bkey\b'))
          + len(regexp_extract_all(text, '\bhash\b')) > 0
    """,
)
def t7_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction (PII-scrub class: ``text.PII_PATTERNS`` documents the
    production regexes; the test corpus has no PII so a token denylist drives
    the same code path). Per-pattern audit counts + the scrubbed text's md5
    so the oracle hash-checks the actual replacement output. Map-only JVM
    regex in whole-stage codegen — a scan-rate pass at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    out = text.redact(docs, _T7_PATTERNS)
    return out.filter(F.col("n_redactions") > 0).select(
        "doc_id", "n_keyword", "n_hashword", "n_redactions",
        F.md5(F.col("text_redacted")).alias("redacted_fp"),
    )


@query(
    "t8_bm25_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scalars AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), scored AS (
      SELECT tf.id, tf.term, tf.tf, dfreq.df,
        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS bm25
      FROM tf JOIN dl USING (id) JOIN dfreq USING (term), scalars
    )
    SELECT id AS doc_id, rank, term,
      CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      ROUND(bm25, 6) AS bm25
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY bm25 DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def t8_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 BM25 term weights (k1=1.2, b=0.75) — the keyword/
    relevance-scoring surface of a corpus pipeline. See
    ``operators/text.py::bm25_top_terms`` for the one-big-shuffle shape."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bm25_top_terms(docs, k=3)


@query(
    "o9_quantile_prune",
    oracle="""
    WITH cut AS (
      SELECT lang, median(n_chars) AS med FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
      ROUND(cut.med, 6) AS lang_median
    FROM documents d JOIN cut USING (lang)
    WHERE d.n_chars >= cut.med
    """,
)
def o9_quantile_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality pruning: keep documents at/above their language's
    median length. The per-language cutoff table is vocabulary-sized (one
    row per language) and broadcast back — the corpus itself never
    shuffles. Exact ``F.median`` here to match the oracle bit-for-bit; at
    100 TB swap in ``approx_percentile`` (t-digest sketch, one pass,
    mergeable) — the plan shape is identical."""
    docs = read_table(spark, sf_dir, "documents")
    cut = docs.groupBy("lang").agg(F.median("n_chars").alias("med"))
    return (
        docs.join(F.broadcast(cut), "lang")
        .filter(F.col("n_chars") >= F.col("med"))
        .select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
            F.round("med", 6).alias("lang_median"),
        )
    )


@query(
    "o11_group_reservoir",
    oracle="""
    SELECT source, doc_id, pick
    FROM (
      SELECT source, doc_id,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY CAST(concat('0x', substr(md5(concat('o11:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   doc_id
        ) AS pick
      FROM documents
    ) WHERE pick <= 5
    """,
)
def o11_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample (reservoir-k equivalent):
    the k smallest portable-hash values per source. The kept set is a pure
    function of the data — stable across retries/partitionings, which real
    reservoir sampling (RNG state per partition) is not. Scale shape: ONE
    hash-partitioned window per group; for extreme group sizes swap the
    window for a two-level "partial top-k then merge" (same k smallest
    property holds under merge)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    h = text.portable_hash(
        F.concat(F.lit("o11:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("pick"))
        .filter(F.col("pick") <= 5)
    )


@query(
    "o13_exact_stratified_split",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY CAST(concat('0x', substr(md5(concat('o13:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   doc_id
        ) AS rn,
        COUNT(*) OVER (PARTITION BY lang) AS n_g
      FROM documents
    ) WHERE rn * 5 <= n_g + 4
    """,
)
def o13_exact_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional stratified split: EXACTLY ceil(n_g/5) documents
    per language stratum (the standard 20% eval split with proportional
    allocation — what sklearn's train_test_split(stratify=...) guarantees
    and rate-based o5/o7 only approximate in expectation), chosen by
    portable-hash order so the split is a pure function of the data.
    The ceil test is pure INTEGER arithmetic (rn·5 ≤ n_g+4 ⇔ rn ≤
    ceil(n_g/5)) — no float rounding for engines to disagree on.
    Scale shape: one window shuffle on the stratum key; the per-group
    count rides the same window, no second pass."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    h = text.portable_hash(F.concat(F.lit("o13:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    cnt = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(cnt).alias("n_g"),
        )
        .filter(F.col("rn") * 5 <= F.col("n_g") + 4)
        .select("doc_id", "lang")
    )


@query(
    "o12_weighted_sample",
    oracle="""
    WITH q AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_words,
        (CAST(concat('0x', substr(md5('o12:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
          / 4294967296.0 AS u
      FROM documents
    ),
    top AS (
      SELECT doc_id, n_words,
        ROW_NUMBER() OVER (
          ORDER BY pow(u, 1.0 / GREATEST(n_words, 1)) DESC, doc_id
        ) AS rk
      FROM q
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(rk AS BIGINT) AS rk
    FROM top WHERE rk <= 50
    """,
)
def o12_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, probability ∝ document
    length (Efraimidis–Spirakis 2006: key = u^(1/w), keep the top-k
    keys) — the data-mixing sampler that favors long documents without
    ever materializing per-row multiplicities.

    The u draw is the PORTABLE hash (md5-derived, in (0,1]), not an RNG:
    like o4b/o11 and unlike o4/o5, the sampled SET is a pure function of
    the data — resumable across retries/partitionings and exactly
    oracle-checkable, which upgrades weighted sampling from the
    rows-only check RNG sampling gets to a full hash compare.

    Scale shape: the top-k compiles to TakeOrderedAndProject
    (per-partition heap + driver merge of k rows — no global sort, no
    single-partition window); the rank is then assigned on the k-row
    result."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    n_words = F.size(text.words(F.col("text")))
    u = (
        text.portable_hash(
            F.concat(F.lit("o12:"), F.col("doc_id").cast("string"))
        ) + F.lit(1)
    ) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.greatest(n_words, F.lit(1)))
    top = (
        docs.select(
            "doc_id", n_words.cast("long").alias("n_words"), key.alias("_k")
        )
        .orderBy(F.col("_k").desc(), F.col("doc_id"))
        .limit(50)
    )
    # unpartitioned window, but over the LIMIT-50 result only — bounded at
    # k rows regardless of input size (the a4/a8/a14 bounded-global-window
    # convention)
    w = Window.orderBy(F.col("_k").desc(), F.col("doc_id"))
    return top.select(
        "doc_id", "n_words", F.row_number().over(w).cast("long").alias("rk")
    )


@query(
    "d9_canonical_per_group",
    oracle="""
    WITH q AS (
      SELECT doc_id, md5(text) AS fp, len(string_split(text, ' ')) AS n_words,
        CASE WHEN len(string_split(text, ' ')) = 0 THEN NULL
             ELSE len(list_distinct(string_split(text, ' ')))::DOUBLE
                  / len(string_split(text, ' ')) END AS ttr
      FROM documents
    )
    SELECT doc_id, fp, CAST(group_size AS BIGINT) AS group_size
    FROM (
      SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS group_size,
        ROW_NUMBER() OVER (PARTITION BY fp ORDER BY ttr DESC, doc_id) AS rk
      FROM q
    ) WHERE rk = 1
    """,
)
def d9_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after exact-dup grouping (d1's md5
    fingerprint), keep ONE representative per content group — the highest
    type-token-ratio doc, doc_id tiebreak — with the group size for audit.
    This is the "keep best, drop rest" tail of the dedup pipeline
    (pairs → groups → canonical corpus). One fingerprint-key shuffle
    (32 B/row; bodies never move), both windows share the exchange."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ttr = F.try_divide(
        F.size(F.array_distinct(w)).cast("double"), F.size(w).cast("double")
    )
    q = docs.select("doc_id", F.md5("text").alias("fp"), ttr.alias("ttr"))
    win = Window.partitionBy("fp")
    rk = Window.partitionBy("fp").orderBy(F.desc("ttr"), F.asc("doc_id"))
    return (
        q.select(
            "doc_id", "fp",
            F.count(F.lit(1)).over(win).alias("group_size"),
            F.row_number().over(rk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", "fp", F.col("group_size").cast("long").alias("group_size"))
    )


@query(
    "t9_bigram_lm_score",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM d, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
    ), uc AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1
    )
    SELECT b.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      ROUND(-AVG(ln(CAST(bc.c12 AS DOUBLE) / uc.c1)), 6) AS cross_entropy
    FROM big b
    JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN uc ON uc.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def t9_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality scoring (KenLM-class, self-
    trained): corpus bigram MLE probabilities P(w2|w1) = c(w1,w2)/c(w1),
    then per-document cross-entropy −mean ln P over the doc's own bigrams.
    High cross-entropy = improbable word sequences (the perplexity filter
    of pretraining pipelines; a pre-trained LM would replace the counts
    table, nothing else).

    Scale shape: doc-bigrams are a map-only transform of the token array
    (no positional explode + self-join); the model is ONE (w1,w2) count
    shuffle, with unigram totals derived FROM the bigram counts (second
    agg runs on the already-aggregated vocab²-bounded table, not the
    corpus). Scoring joins doc-bigrams to the model on (w1,w2) — here the
    model fits a broadcast; at 100 TB it becomes a sort-merge join on the
    bigram key, still linear in corpus bigrams. The model table feeds the
    probability join once (cached — same multi-consumer rule as t8/d3).
    """
    docs = read_table(spark, sf_dir, "documents")
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
        "doc_id", F.explode(bigrams).alias("b")
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # eager localCheckpoint, not .cache(): blocks are GC'd with the frame
    # instead of accumulating in the CacheManager across a 132-query session
    bc = (
        doc_big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = bc.join(uc, "w1").withColumn(
        "logp", F.log(F.col("c12").cast("double") / F.col("c1"))
    )
    return (
        doc_big.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 6).alias("cross_entropy"),
        )
    )


@query(
    "t19_kneser_ney_score",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM d, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
    ), uc AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1p_w1
      FROM bc GROUP BY w1
    ), pre AS (
      SELECT w2, COUNT(*) AS n1p_pre FROM bc GROUP BY w2
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        CAST(COUNT(*) AS DOUBLE) AS types
      FROM bc
    ), model AS (
      SELECT bc.w1, bc.w2,
        ln((GREATEST(CAST(bc.c12 AS DOUBLE)
              - CASE WHEN s.n1 + 2 * s.n2 > 0
                     THEN s.n1 / (s.n1 + 2 * s.n2) ELSE 0.0 END, 0)
            + CASE WHEN s.n1 + 2 * s.n2 > 0
                   THEN s.n1 / (s.n1 + 2 * s.n2) ELSE 0.0 END
              * uc.n1p_w1 * (pre.n1p_pre / s.types))
           / uc.c1) AS logp
      FROM bc JOIN uc USING (w1) JOIN pre ON pre.w2 = bc.w2, s
    )
    SELECT b.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      ROUND(-AVG(m.logp), 6) AS kn_cross_entropy
    FROM big b JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
    GROUP BY b.doc_id
    """,
)
def t19_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t9's production upgrade: INTERPOLATED KNESER-NEY bigram scoring —
    the smoothing class CCNet's actual KenLM filter uses (Heafield 2011;
    Kneser & Ney 1995). Where t9's MLE assigns P = c12/c1 (and nothing
    to unseen bigrams), KN discounts every observed bigram by
    D = n1/(n1 + 2·n2) (the standard count-of-counts estimate) and
    redistributes that mass through the CONTINUATION distribution
    P_cont(w2) = N1+(·,w2) / N1+(·,·) — "how many contexts does w2
    complete", the novel-continuation signal that makes KN the strongest
    count-based smoother:

        P(w2|w1) = (max(c12 − D, 0) + D · N1+(w1,·) · P_cont(w2)) / c(w1)

    Per-document score = −mean ln P over the doc's own bigrams (t9's
    cross-entropy convention; self-trained, so every scored bigram is in
    the model — smoothing changes the VALUES, not coverage).

    Scale shape: two map-only Arrow corpus passes and zero Exchange. Pass
    one counts (w1,w2) pairs per batch; every derived table — unigram
    totals, left/right continuation counts, the (n1, n2, types) scalars —
    aggregates the vocab²-bounded counts table on the driver, not the
    corpus; pass two scores each doc against the model dict in the
    closure. Every arithmetic step is written in the same order in both
    engines (single-division IEEE parity)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.kneser_ney_score(docs)


# the BPE operators' pretokenizer: one string for the engine and its oracles
_T10_PATTERN = text.PRETOKEN_PATTERN


def _bpe_sql() -> str:
    """DuckDB oracle of ``text.bpe_encode``, by a different algorithm:
    each pretoken's symbols are wrapped as ``\\x01sym\\x01`` and
    concatenated, so merging all non-overlapping occurrences of (l, r) is
    one left-to-right literal ``replace`` (the wrappers stop a pattern
    from matching a symbol suffix). One round is a rank-ordered CASE —
    the first contained pair is the min-rank pair present — as one chained
    CTE. ``len(merges)`` rounds always suffice: a round retires its rank
    for good, since merging never creates a new adjacency between
    pre-existing symbols. That argument needs unique merge outputs, which
    ``text._require_unique_merge_outputs`` enforces."""
    from consumer_loans_analysis_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_vocab,
    )

    sep = "\x01"
    rounds = len(DEFAULT_BPE_MERGES)
    branches = " ".join(
        f"WHEN contains(state, '{sep}{l}{sep}{sep}{r}{sep}') "
        f"THEN replace(state, '{sep}{l}{sep}{sep}{r}{sep}', '{sep}{l}{r}{sep}')"
        for l, r in DEFAULT_BPE_MERGES
    )
    round_ctes = ",\n    ".join(
        f"s{i + 1} AS (SELECT doc_id, widx, CASE {branches} ELSE state END AS state FROM s{i})"
        for i in range(rounds)
    )
    id_cases = " ".join(
        f"WHEN '{sym}' THEN {tid}" for sym, tid in bpe_vocab(DEFAULT_BPE_MERGES).items()
    )
    return f"""
    WITH d AS (
      SELECT doc_id, regexp_extract_all(text, '{_T10_PATTERN}') AS w FROM documents
    ),
    s0 AS (
      SELECT doc_id, i AS widx,
        '{sep}' || array_to_string(string_split(w[i], ''), '{sep}{sep}') || '{sep}' AS state
      FROM d, UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    {round_ctes},
    toks AS (
      SELECT doc_id, widx,
        list_transform(
          string_split(trim(state, '{sep}'), '{sep}{sep}'),
          s -> CASE s {id_cases} ELSE -1 END) AS ids
      FROM s{rounds}
    )
    SELECT doc_id,
      CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
      string_agg(array_to_string(ids, ' '), ' ' ORDER BY widx) AS token_str
    FROM toks GROUP BY doc_id
    """


@query(
    "t10_regex_tokens",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
        regexp_extract_all(text, '{_T10_PATTERN}') AS toks
      FROM documents
    )
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
      md5(list_aggregate(toks, 'string_agg', chr(30))) AS token_fp
    FROM tok
    """,
)
def t10_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-class regex pretokenization (the GPT-2 pretokenizer shape,
    reduced to its engine-portable letter/digit/symbol-run classes):
    per-doc token count, unique-token count, and an md5 over the exact
    token sequence so the oracle checks the tokenization itself, not just
    counts. Map-only JVM regex (``regexp_extract_all``) — scan-rate; a
    real BPE merge table would follow as a broadcast join on these
    pretokens."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_T10_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.md5(F.array_join(toks, "\x1e")).alias("token_fp"),
    )


@query("t14b_bpe_encode_broadcast", oracle=_bpe_sql())
def t14b_bpe_encode_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE merge-table application over t10's pretokens: per-doc
    exact token-id sequence under a 21-rank merge table with multi-level
    chains (t-a→ta-b→…→"table"). ``text.bpe_encode`` is one map-only
    Arrow pass with the rank table broadcast in the closure, zero
    Exchange. The oracle recomputes the greedy tokenization round by
    round in DuckDB and hash-checks the id sequence itself; a hand-derived
    golden fixture pins it against paper-computed ids
    (tests/test_operators.py::test_bpe_golden_fixture_hand_derived)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bpe_encode(docs)


@query(
    "t17_bpe_fertility",
    oracle=f"""
    WITH enc AS ({_bpe_sql()}),
    j AS (
      SELECT d.lang,
        len(string_split(d.text, ' ')) AS n_words,
        e.n_tokens,
        octet_length(encode(d.text)) AS n_bytes
      FROM enc e JOIN documents d USING (doc_id)
    )
    SELECT lang,
      CAST(SUM(n_words) AS BIGINT) AS total_words,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6) AS fertility,
      ROUND(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_tokens), 6) AS bytes_per_token
    FROM j GROUP BY lang
    """,
)
def t17_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE tokens per whitespace
    word and bytes per token — THE metrics tokenizer teams track across
    languages (high fertility = the vocabulary under-serves that language
    and its documents pay more sequence length per content). Uses t14b's
    encoder (the same oracle-pinned id sequences), so this doubles as a
    composition check: encode → doc-level join → bounded per-language
    aggregate. Map-only encode + one equi-join + a
    #langs-group aggregate; sums are exact integers, the two ratios
    divide once at the end."""
    docs = read_table(spark, sf_dir, "documents")
    enc = text.bpe_encode(docs).select("doc_id", "n_tokens")
    j = enc.join(
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        ),
        "doc_id",
    )
    return j.groupBy("lang").agg(
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.try_divide(
                F.sum("n_tokens").cast("double"), F.sum("n_words").cast("double")
            ),
            6,
        ).alias("fertility"),
        F.round(
            F.try_divide(
                F.sum("n_bytes").cast("double"), F.sum("n_tokens").cast("double")
            ),
            6,
        ).alias("bytes_per_token"),
    )


_T15_ROUNDS = 8


def _bpe_train_sql(n_merges: int = _T15_ROUNDS) -> str:
    """DuckDB oracle of ``text.bpe_train``: the per-rank full recount as
    chained CTEs, one (pair-count → deterministic top-1 → corpus-wide
    replace) block per round."""
    sep = "\x01"
    blocks, unions = [], []
    for i in range(n_merges):
        blocks.append(f"""
    p{i} AS MATERIALIZED (
      SELECT syms[j] AS lhs, syms[j + 1] AS rhs, COUNT(*) AS pair_count
      FROM (SELECT string_split(trim(state, '{sep}'), '{sep}{sep}') AS syms FROM s{i}),
           UNNEST(range(1, len(syms))) AS t(j)
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p{i}
             ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
    s{i + 1} AS MATERIALIZED (
      SELECT replace(state,
        (SELECT '{sep}' || lhs || '{sep}{sep}' || rhs || '{sep}' FROM b{i}),
        (SELECT '{sep}' || lhs || rhs || '{sep}' FROM b{i})) AS state
      FROM s{i})""")
        unions.append(
            f"SELECT {i} AS merge_rank, lhs, rhs, pair_count FROM b{i}"
        )
    return f"""
    WITH d AS (
      SELECT regexp_extract_all(text, '{_T10_PATTERN}') AS ws FROM documents
    ),
    s0 AS MATERIALIZED (
      SELECT '{sep}' || array_to_string(string_split(w, ''), '{sep}{sep}') || '{sep}' AS state
      FROM d, UNNEST(ws) AS t(w)
    ),{",".join(blocks)}
    {" UNION ALL ".join(unions)}
    """


@query("t15_bpe_train", oracle=_bpe_train_sql())
def t15_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table TRAINING (Sennrich et al., 2016): learn the top-8
    merges from the corpus — per rank the most frequent adjacent pair
    (count desc, then lexicographic), merged corpus-wide. ``text.bpe_train``
    runs ONE explode+groupBy(pretoken) job (word-count cost class) and
    trains every rank on the driver over that vocabulary table. Returns
    the learned table (merge_rank, lhs, rhs, pair_count); the oracle
    replays the per-rank full recount in DuckDB and checks every row.
    Together with t14b (application) this completes tokenizer
    construction in-engine."""
    docs = read_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=_T15_ROUNDS)
    return spark.createDataFrame(
        [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_count bigint",
    )


@query(
    "t11_winnow_fingerprints",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        list_transform(
          list_transform(range(1, len(text) - 2), i -> substr(text, i, 4)),
          g -> CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)) AS hs
      FROM documents
      WHERE len(text) >= 7
    ), fp AS (
      SELECT doc_id, hs,
        list_sort(list_distinct(
          list_transform(range(1, len(hs) - 1), j -> list_min(hs[j:j+2])))) AS fps
      FROM h
    )
    SELECT doc_id,
      CAST(len(hs) AS BIGINT) AS n_grams,
      CAST(len(fps) AS BIGINT) AS n_fingerprints,
      md5(list_aggregate(list_transform(fps, x -> CAST(x AS VARCHAR)),
                         'string_agg', ',')) AS fp_digest
    FROM fp
    """,
)
def t11_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every char
    4-gram (k=4), then keep the minimum of each 3-hash sliding window
    (w=3); the distinct minima are the document's fingerprints
    (winnowing guarantee: any two documents sharing a substring of
    ≥ w+k-1 = 6 chars share at least one fingerprint).
    Output pins the full fingerprint SET via an md5 digest, so the oracle
    checks the algorithm, not just counts.

    All array expressions (substr/hash/slice/min inside transform
    lambdas) — map-only, no explode, no shuffle; the fingerprint set
    (~|text|/window) is what a plagiarism/near-dup index would invert, at
    a fraction of the shingle count d2/d3 index."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 7
    )
    t = F.col("text")
    k, w = 4, 3
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (k - 1)),
        lambda i: t.substr(i, F.lit(k)),
    )
    hs = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    # Stage the array columns: lambda expressions are NOT subexpression-
    # eliminated across consumers, so referencing `hs` four times in one
    # projection re-hashed every gram four times (measured 120 s → 4 s at
    # sf0.001 after staging). Each withColumn binds the array to an
    # attribute evaluated once per row.
    staged = docs.select("doc_id", hs.alias("hs"))
    fps = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - (w - 1)),
                lambda j: F.array_min(F.slice(F.col("hs"), j, w)),
            )
        )
    )
    staged = staged.select(
        "doc_id", F.size("hs").cast("long").alias("n_grams"), fps.alias("fps")
    )
    return staged.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.col("fps").cast("array<string>"), ",")).alias(
            "fp_digest"
        ),
    )


def _t12_oracle() -> str:
    """Build the t12 oracle from the SAME marker vocabularies as the
    operator, so the two can't drift."""
    score = lambda lang: (  # noqa: E731
        "len(list_intersect(w, ["
        + ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
        + f"])) "
    )
    # t3's argmax rule: start at en, replace only on strictly-greater in
    # sorted lang order == pick max, ties resolved en-first then sorted
    case = (
        "CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de' "
        "WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' ELSE 'zh' END"
    )
    return f"""
    WITH d AS (
      SELECT lang, list_distinct(string_split(text, ' ')) AS w FROM documents
    ), s AS (
      SELECT lang, {score('en')} AS s_en, {score('de')} AS s_de,
        {score('es')} AS s_es, {score('fr')} AS s_fr, {score('zh')} AS s_zh
      FROM d
    ), p AS (
      SELECT lang,
        greatest(s_en, s_de, s_es, s_fr, s_zh) AS m,
        {case} AS pred
      FROM s
    )
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      ROUND(AVG(CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM p GROUP BY lang
    """


@query("t12_langid_eval", oracle=_t12_oracle())
def t12_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation as a query: per-language accuracy of the t3
    language-ID heuristic against the table's ground-truth ``lang`` —
    the eval loop of a classifier-based corpus filter run WHERE THE DATA
    IS (one marker-scoring projection + one confusion aggregate; no
    collect, no python). The oracle derives its marker lists from the
    same ``LANG_MARKERS`` constant so operator and oracle cannot drift."""
    docs = read_table(spark, sf_dir, "documents")
    pred = text.lang_id(docs)
    return (
        pred.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("lang_pred") == F.col("lang")).cast("long")).alias(
                "n_correct"
            ),
            F.round(
                F.avg((F.col("lang_pred") == F.col("lang")).cast("double")), 6
            ).alias("accuracy"),
        )
    )


@query("d10_stream_dedup_drained", oracle=_JACCARD_SQL)
def d10_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING NEAR-DUP DEDUP under the batch oracle: documents are
    split into three files and ingested as three micro-batches through
    ``streaming/corpus.py`` — each batch reads its own candidates off
    its band posting lists, LSH-probes the persistent band index for
    matches against everything already ingested, then joins the index.
    The cumulative verified pair set must equal the batch d2/d3 answer
    (pair discovery commutes with any batch split: a pair lands either
    within one batch or across the index probe).
    Same exact-Jaccard oracle as d2/d3."""
    import shutil
    import tempfile

    from consumer_loans_analysis_spark.streaming.corpus import stream_dedup_corpus

    docs = read_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        src = f"{work}/chunks"
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        pairs = stream_dedup_corpus(
            spark, src, f"{work}/state", f"{work}/ckpt", threshold=0.8
        )
        # materialize before the tmp dir disappears — eager localCheckpoint
        # keeps the (bounded) pair set in executor storage without ever
        # pulling rows through the driver; blocks are GC'd with the frame
        return pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("jaccard", 9).cast("double").alias("jaccard"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


_T13_TERMS = ["spark", "hash", "window"]


@query(
    "t13_bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf_all AS (
      SELECT id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf_all GROUP BY id
    ), scalars AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf_q AS (
      SELECT * FROM tf_all WHERE term IN ({", ".join(f"'{t}'" for t in _T13_TERMS)})
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf_q GROUP BY term
    ), scored AS (
      SELECT tf_q.id,
        ROUND(SUM(
          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        ), 6) AS score,
        COUNT(*) AS n_matched
      FROM tf_q JOIN dl USING (id) JOIN dfreq USING (term), scalars
      GROUP BY tf_q.id
    )
    SELECT id AS doc_id, rank, score, n_matched
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
      FROM scored
    ) WHERE rank <= 20
    """,
)
def t13_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: rank the corpus for a 3-term query, top-20. See
    ``operators/text.py::bm25_search`` — the tf table restricts to the
    query vocabulary before df/scoring, so query-time work is bounded by
    documents containing a query term, not corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bm25_search(docs, _T13_TERMS, k=20)


@query(
    "dsir1_importance_resampling",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, lang = 'en' AS is_t,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tb AS (
      SELECT doc_id, lang, is_t,
             CAST(concat('0x', substr(md5('dsir:' || w), 1, 8)) AS BIGINT) % 8192 AS b
      FROM tok
    ), c AS (
      SELECT b, COUNT(*) AS c_r,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
      FROM tb GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(c_r) AS DOUBLE) AS n_r, CAST(SUM(c_t) AS DOUBLE) AS n_t
      FROM c
    ), model AS (
      SELECT b, ln((c_t + 1.0) / (n_t + 8192.0)) - ln((c_r + 1.0) / (n_r + 8192.0)) AS llr
      FROM c, tot
    ), scored AS (
      SELECT tb.doc_id, tb.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(llr) AS logw
      FROM tb JOIN model USING (b)
      GROUP BY 1, 2
    ), g AS (
      SELECT *,
        -ln(-ln(((CAST(concat('0x', substr(md5('dsir-g:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1073741824) + 0.5) / 1073741824.0)) AS gum
      FROM scored
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(logw, 6) AS logw, ROUND(logw + gum, 6) AS score
    FROM g
    ORDER BY logw + gum DESC, doc_id
    LIMIT 100
    """,
)
def dsir1_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): importance-resample 100 docs
    toward the lang='en' target distribution over 8192 hashed-unigram
    buckets. See ``operators/curation.py::dsir_select`` for the full
    semantics and the 100 TB plan shape (one explode, one #buckets agg,
    broadcast model, TakeOrderedAndProject selection)."""
    from consumer_loans_analysis_spark.operators import curation

    docs = read_table(spark, sf_dir, "documents")
    return curation.dsir_select(docs, F.col("lang") == "en", k=100)


@query(
    "ccnet1_perplexity_buckets",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_ref,
             string_split(text, ' ') AS w
      FROM documents
    ), big AS (
      SELECT doc_id, lang, is_ref, w[i] AS w1, w[i+1] AS w2
      FROM d, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), bc AS (
      SELECT lang, w1, w2, COUNT(*) AS c12 FROM big WHERE is_ref GROUP BY 1, 2, 3
    ), uc AS (
      SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY 1, 2
    ), scored AS (
      SELECT b.doc_id, b.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(-AVG(ln(CAST(bc.c12 AS DOUBLE) / uc.c1)), 6) AS cross_entropy
      FROM big b
      JOIN bc ON bc.lang = b.lang AND bc.w1 = b.w1 AND bc.w2 = b.w2
      JOIN uc ON uc.lang = b.lang AND uc.w1 = b.w1
      GROUP BY 1, 2
    ), th AS (
      SELECT lang,
             quantile_cont(cross_entropy, 0.3333333333333333) AS t1,
             quantile_cont(cross_entropy, 0.6666666666666666) AS t2
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_bigrams, s.cross_entropy,
      CASE WHEN s.cross_entropy <= th.t1 THEN 'head'
           WHEN s.cross_entropy <= th.t2 THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM scored s JOIN th USING (lang)
    """,
)
def ccnet1_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity split (Wenzek et al. 2020): per-language bigram LM
    trained on the src0-src4 reference shard, every doc scored by
    cross-entropy, languages split at the 1/3 and 2/3 terciles into
    head/middle/tail. See ``operators/curation.py::ccnet_perplexity_buckets``."""
    from consumer_loans_analysis_spark.operators import curation

    docs = read_table(spark, sf_dir, "documents")
    return curation.ccnet_perplexity_buckets(
        docs, F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )


@query(
    "d11_semantic_dedup",
    oracle="""
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
        + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
        + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM e
    ),
    dup AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_dot_product(a.v, c.v)
            / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)))
            >= 0.45
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT e2.dst AS id, reach.r FROM reach JOIN edges e2 ON e2.src = reach.id
    )
    SELECT id AS vec_id, MIN(r) AS cluster_id, (id = MIN(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
)
def d11_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: sign-LSH
    bucket → within-bucket cosine pairs → min-label connected components →
    one canonical vector per component. Threshold 0.45 / 4 bucket bits
    because this corpus's planted near-dups live at cosine 0.45-0.51 (see
    d5's margin note) — real text embeddings would use ~0.9 and more bits.
    See ``operators/curation.py::semantic_dedup`` (composition of sim2's
    bucketing, d5's GEMM pair kernel run per bucket, and d6's CC loop)."""
    from consumer_loans_analysis_spark.operators import curation

    emb = read_table(spark, sf_dir, "embeddings")
    return curation.semantic_dedup(emb, threshold=0.45, n_bits=4)


def _semdedup_sql_parts() -> tuple[str, str, str, int]:
    """The d11b-family SQL building blocks over the PINNED SemDeDup
    centroids: (per-centroid distance exprs `d0..`, the argmin CASE chain
    with ties to the lowest cluster id, the assigned-distance LEAST expr,
    k). repr() round-trips doubles, so both engines parse the identical
    IEEE754 values the Spark expression path uses."""
    from consumer_loans_analysis_spark.operators.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )

    n = len(SEMDEDUP_CENTROIDS)
    dist = []
    for i, c in enumerate(SEMDEDUP_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cn = repr(float(sum(x * x for x in c)))
        dist.append(f"{cn} - 2 * list_dot_product(uv, {lit}) AS d{i}")
    case = " ".join(
        f"WHEN d{i} <= LEAST({', '.join(f'd{j}' for j in range(i + 1, n))}) "
        f"THEN {i}"
        for i in range(n - 1)
    )
    least = "LEAST(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    return ", ".join(dist), case, least, n


def _d11b_oracle() -> str:
    """d11b oracle with the PINNED k-means centroids as SQL literals: the
    assignment (argmin over ‖c‖² − 2·u·c, ties to lowest cluster id) is
    stated with the exact doubles the Spark expression path uses — repr()
    round-trips, so both engines parse the identical IEEE754 values."""
    dist_joined, case, _, n = _semdedup_sql_parts()
    dist = [dist_joined]  # pre-joined; keep the f-string below unchanged
    return f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id, v,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    dd AS (SELECT vec_id, v, {", ".join(dist)} FROM u),
    b AS (
      SELECT vec_id, v, CASE {case} ELSE {n - 1} END AS bucket FROM dd
    ),
    dup AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_dot_product(a.v, c.v)
            / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)))
            >= 0.45
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT e2.dst AS id, reach.r FROM reach JOIN edges e2 ON e2.src = reach.id
    )
    SELECT id AS vec_id, MIN(r) AS cluster_id, (id = MIN(r)) AS is_canonical
    FROM reach GROUP BY id
    """


@query("d11b_semantic_dedup_kmeans", oracle=_d11b_oracle())
def d11b_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d11 with the SemDeDup paper's blocker proper: spherical k-means
    assignment instead of the sign-LSH bucket. The blocker's centroids are
    PINNED (``operators/semdedup_centroids.py`` — the live fit below, run
    once on sf0.01 with k=8/seed=42, then frozen; the production shape for
    a quantizer),
    so assignment is a pure Column expression and the WHOLE query carries
    a full DuckDB hash oracle with the same centroid literals. Within each
    cluster, pairs come from d5's GEMM pair kernel. The live fit (no
    centroids) is the ANN quantizers' numpy k-means on their fit sample,
    assigned by the same expression; its recall stays gated by
    tests/test_operators.py::test_semantic_dedup_kmeans_blocker_recall
    (30/30 at k=8) and the pinned-vs-MLlib assignment parity test."""
    from consumer_loans_analysis_spark.operators import curation
    from consumer_loans_analysis_spark.operators.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return curation.semantic_dedup(
        emb, threshold=0.45, blocker="kmeans", centroids=SEMDEDUP_CENTROIDS
    )




def _assigned_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with their pinned-SemDeDup-centroid assignment as a
    ``_a = (d, bucket)`` struct: ``curation.kmeans_assigned``, the staged
    norm→unit→assign chain d11b's blocker uses, so the d11b oracle's u/dd
    CTEs restate it exactly."""
    from consumer_loans_analysis_spark.operators.curation import kmeans_assigned
    from consumer_loans_analysis_spark.operators.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_assigned(emb, SEMDEDUP_CENTROIDS, "embedding", ["vec_id"])


def _o14_oracle() -> str:
    dist, case, _, n = _semdedup_sql_parts()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    dd AS (SELECT vec_id, {dist} FROM u),
    b AS (SELECT vec_id, CASE {case} ELSE {n - 1} END AS cluster_id FROM dd)
    SELECT vec_id, cluster_id, pick FROM (
      SELECT vec_id, cluster_id,
        ROW_NUMBER() OVER (
          PARTITION BY cluster_id
          ORDER BY CAST(concat('0x', substr(md5(concat('o14:', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   vec_id
        ) AS pick
      FROM b
    ) WHERE pick <= 10
    """


@query("o14_cluster_balanced_sample", oracle=_o14_oracle())
def o14_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced data selection: 10 deterministic picks per
    semantic cluster (pinned SemDeDup centroids, hash-smallest ids) — the
    diversity-preserving sampling step of D4/DiverseEvol-style curation,
    where uniform sampling over-represents dense regions and per-cluster
    quotas don't. o11's reservoir pattern applied to LEARNED strata
    instead of a metadata column; fully deterministic, so the whole
    query — assignment included — sits under the hash oracle.
    Scale shape: assignment is a scan-rate literal-centroid projection;
    ONE window shuffle on the cluster key. k clusters bound window
    parallelism to k — at extreme per-cluster sizes swap the window for
    o11's two-level partial-top-k-then-merge (hash-smallest survives
    merging), or raise k."""
    from pyspark.sql import Window

    assigned = _assigned_embeddings(spark, sf_dir).select(
        "vec_id", F.col("_a")["bucket"].alias("cluster_id")
    )
    h = text.portable_hash(F.concat(F.lit("o14:"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cluster_id").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        assigned.select(
            "vec_id", "cluster_id", F.row_number().over(w).alias("pick")
        )
        .filter(F.col("pick") <= 10)
    )


def _dq4_oracle() -> str:
    dist, case, least, n = _semdedup_sql_parts()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (
      SELECT vec_id,
        list_transform(v, x -> x / SQRT(list_dot_product(v, v))) AS uv
      FROM e
    ),
    dd AS (SELECT vec_id, {dist} FROM u),
    b AS (
      SELECT vec_id, CASE {case} ELSE {n - 1} END AS cluster_id,
        {least} AS d
      FROM dd
    )
    SELECT vec_id, cluster_id, ROUND(d, 6) AS centroid_dist, far_rank FROM (
      SELECT vec_id, cluster_id, d,
        ROW_NUMBER() OVER (
          PARTITION BY cluster_id ORDER BY d DESC, vec_id ASC
        ) AS far_rank,
        COUNT(*) OVER (PARTITION BY cluster_id) AS n_c
      FROM b
    ) WHERE far_rank * 10 <= n_c + 9
    """


@query("dq4_embedding_outliers", oracle=_dq4_oracle())
def dq4_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: the ceil(10%) farthest-from-centroid
    vectors per semantic cluster (pinned SemDeDup centroids) — the
    'far from any prototype' half of D4-style embedding pruning (the
    near-duplicate half is d11/d11b). RANK-based, not quantile-based, by
    design: the assigned distance is the portable ‖c‖²−2·u·c double (==
    the oracle's LEAST over the same literals), and a row_number cut with
    integer ceil arithmetic (rank·10 ≤ n_c+9) has no percentile
    interpolation for engines to disagree on. One window shuffle on the
    cluster key; assignment is scan-rate. Like o14, window parallelism is
    bounded by k clusters — at extreme per-cluster sizes the farthest-10%
    cut becomes a two-level partial top-(ceil(n_c/10)) merge (largest-d
    survives merging, and n_c is one count aggregate)."""
    from pyspark.sql import Window

    assigned = _assigned_embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("_a")["bucket"].alias("cluster_id"),
        F.col("_a")["d"].alias("d"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("d"), F.asc("vec_id"))
    cnt = Window.partitionBy("cluster_id")
    return (
        assigned.select(
            "vec_id",
            "cluster_id",
            "d",
            F.row_number().over(w).alias("far_rank"),
            F.count(F.lit(1)).over(cnt).alias("n_c"),
        )
        .filter(F.col("far_rank") * 10 <= F.col("n_c") + 9)
        .select(
            "vec_id", "cluster_id",
            F.round("d", 6).alias("centroid_dist"), "far_rank",
        )
    )


@query(
    "o15_token_budget_select",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, source, len(w) AS n_words,
        ROUND(
          LEAST(len(w) / 200.0, 1.0) * 0.4
          + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
          + LEAST((CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
                   / len(w)) * 5.0, 1.0) * 0.2
        , 6) AS quality_score
      FROM f
    ), c AS (
      SELECT doc_id, source, n_words, quality_score,
        COALESCE(CAST(SUM(n_words) OVER (
          PARTITION BY source ORDER BY quality_score DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS BIGINT), 0) AS words_before
      FROM s
    )
    SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
      quality_score, words_before
    FROM c WHERE words_before < 600
    """,
)
def o15_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained selection: greedily fill each source
    shard's 600-word budget with its highest-quality documents (t2's
    composite score, rounded to 6 — pipe1's proven-portable ordering key)
    — the 'best data that fits the budget' step of compute-constrained
    pretraining (a 10B-token run doesn't take all of a 15T-token corpus;
    it takes the best slice). A document is admitted iff the budget is
    not exhausted BEFORE it (words_before < budget), so exactly one doc
    may straddle the boundary — the standard greedy-knapsack relaxation.
    Per-SOURCE budgets keep the running-sum window partitioned (pack1's
    shape); a global budget would be a single-partition window — the
    scalable global variant thresholds quality by quantile instead.
    Sums are exact integers; the only float ordering key is bit-portable."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    q = text.quality_features(docs, "text").select(
        "doc_id", "source",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("quality_score", 6).alias("quality_score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        q.select(
            "doc_id", "source", "n_words", "quality_score",
            F.coalesce(F.sum("n_words").over(w), F.lit(0))
            .cast("long").alias("words_before"),
        )
        .filter(F.col("words_before") < 600)
    )


@query(
    "pipe3_audited_curation",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, source, lang, text, len(w) AS n_words,
        ROUND(
          LEAST(len(w) / 200.0, 1.0) * 0.4
          + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
          + LEAST((CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
                   / len(w)) * 5.0, 1.0) * 0.2
        , 6) AS quality_score
      FROM d
      WHERE len(w) BETWEEN 20 AND 60
        AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
            BETWEEN 3.0 AND 10.0
        AND (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
             + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
            / len(w) <= 0.1
        AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
            / len(w) >= 0.8
        AND len(list_filter(w, x -> list_contains({_DQ3_STOPLIST}, x))) >= 2
    ),
    u AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        FROM g
      ) WHERE rk = 1
    ),
    c AS (
      SELECT doc_id, source, lang, n_words, quality_score,
        COALESCE(CAST(SUM(n_words) OVER (
          PARTITION BY source ORDER BY quality_score DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS BIGINT), 0) AS words_before
      FROM u
    )
    SELECT doc_id, source, lang, CAST(n_words AS BIGINT) AS n_words,
      quality_score, words_before
    FROM c WHERE words_before < 600
    """,
)
def pipe3_audited_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 curation flagship — this round's new operators composed
    end to end under ONE hash oracle: dq3's Gopher rule battery (audited
    per-rule filtering) → pipe1's exact dedup (lowest doc_id per content
    fingerprint) → o15's per-shard 600-word budget fill ranked by t2's
    composite quality. pipe1 proved curation-v1 composes and pipe2 the
    tokenize side; pipe3 proves the AUDITED curation path (paper-rule
    filter + dedup + compute-budget selection) is one pipeline a
    pretraining-data team runs verbatim.

    Plan shape: the rule filter and quality scoring are map-only and run
    BEFORE both shuffles (shrinking them); then exactly TWO window
    shuffles end-to-end — the 32-byte md5 fingerprint key (bodies never
    shuffle; the filter already dropped ~half the corpus) and the shard
    key for the budget window."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    rules = text.gopher_quality_rules(docs, min_words=20, max_words=60)
    kept = rules.filter(F.col("keep")).select(
        "doc_id", "source", "lang", "text", "n_words"
    )
    q = text.quality_features(kept, "text").select(
        "doc_id", "source", "lang", "text",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("quality_score", 6).alias("quality_score"),
    )
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        q.withColumn("rk", F.row_number().over(wdup))
        .filter(F.col("rk") == 1)
        .drop("rk", "text")
    )
    wbud = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        uniq.select(
            "doc_id", "source", "lang", "n_words", "quality_score",
            F.coalesce(F.sum("n_words").over(wbud), F.lit(0))
            .cast("long").alias("words_before"),
        )
        .filter(F.col("words_before") < 600)
    )


# --- pipe2: the pretrain data-prep flagship ----------------------------------

def _pipe2_sql() -> str:
    """DuckDB twin of pipe2: t14b's full BPE tokenization as a nested CTE,
    then id-sequence chunking (chunk1's 32/stride-24 shape over token ids)
    and per-shard 512-token sequence packing (pack1's running-sum rule),
    with an order-pinned md5 over each training sequence's chunk hashes."""
    return f"""
    WITH enc AS ({_bpe_sql()}),
    ch AS (SELECT doc_id, string_split(token_str, ' ') AS ids FROM enc),
    starts AS (
      SELECT doc_id, ids,
        UNNEST(range(1, GREATEST(len(ids) - 8, 1) + 1, 24)) AS s
      FROM ch
    ),
    chunks AS (
      SELECT doc_id,
        CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
        CAST(LEAST(32, len(ids) - s + 1) AS BIGINT) AS n_ids,
        md5(array_to_string(ids[s:LEAST(s + 31, len(ids))], ' ')) AS chunk_md5
      FROM starts
    ),
    t AS (
      SELECT c.doc_id, c.chunk_idx, c.n_ids, c.chunk_md5, d.source
      FROM chunks c JOIN documents d USING (doc_id)
    ),
    c2 AS (
      SELECT source, doc_id, chunk_idx, n_ids, chunk_md5,
        COALESCE(CAST(SUM(n_ids) OVER (
          PARTITION BY source ORDER BY doc_id, chunk_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS BIGINT), 0) AS cum_before
      FROM t
    )
    SELECT source, CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS seq_id,
      COUNT(*) AS n_chunks, CAST(SUM(n_ids) AS BIGINT) AS total_tokens,
      md5(string_agg(chunk_md5, '' ORDER BY doc_id, chunk_idx)) AS seq_md5
    FROM c2 GROUP BY 1, 2
    """


@query("pipe2_pretrain_prep", oracle=_pipe2_sql())
def pipe2_pretrain_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretrain data prep — the LLM-pipeline flagship (pipe1's
    counterpart on the tokenize side): t10 regex pretokenization → t14b
    greedy BPE encode → chunk1-shaped context windows over the TOKEN-ID
    sequence (32 ids, stride 24) → pack1-shaped deterministic packing of
    chunks into 512-token training sequences per source shard. Output is
    one row per training sequence: chunk count, token fill, and an md5
    over the ordered chunk hashes, so the oracle pins the exact CONTENT
    and LAYOUT of every training sequence, not just counts — the whole
    four-operator composition sits under one hash compare.

    Plan shape: the encode+chunk half is map-only (the encoder is t14b's
    Arrow-batched pass with the merge table in the closure); the shard
    key rides THROUGH the encoder (``passthrough_cols`` — r12: this
    removed the doc-level source join-back entirely, one corpus-sized
    equi-join gone); packing is ONE window
    shuffle on the shard key (never a global sort) and the final
    per-sequence aggregate reuses bounded groups. Every stage is
    individually oracled (t10/t14b/chunk1/pack1) — this query proves
    they COMPOSE."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    enc = text.bpe_encode(docs, passthrough_cols=["source"])
    ids = F.split(F.col("token_str"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(ids) - 8, F.lit(1)), F.lit(24)
    )
    n_ids = F.least(F.lit(32), F.size("ids") - F.col("s") + 1)
    t = (
        enc.select(
            "doc_id", "source", ids.alias("ids"), F.explode(starts).alias("s")
        )
        .select(
            "doc_id",
            "source",
            ((F.col("s") - 1) / 24).cast("long").alias("chunk_idx"),
            n_ids.cast("long").alias("n_ids"),
            F.md5(F.array_join(F.slice(F.col("ids"), F.col("s"), n_ids), " "))
            .alias("chunk_md5"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c2 = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_ids").over(w), F.lit(0)).cast("long")
    )
    ordered = F.sort_array(
        F.collect_list(F.struct("doc_id", "chunk_idx", "chunk_md5"))
    )
    return (
        c2.withColumn(
            "seq_id", F.floor(F.col("cum_before") / F.lit(512.0)).cast("long")
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_ids").cast("long").alias("total_tokens"),
            F.md5(
                F.array_join(
                    F.transform(ordered, lambda x: x["chunk_md5"]), ""
                )
            ).alias("seq_md5"),
        )
    )


def _t16_oracle() -> str:
    """t16 oracle: t14b's BPE tokenization (nested CTE), a literal
    id→symbol decode CASE (the inverse of _bpe_sql's encode CASE), and
    the lossy-roundtrip expectation — pretoken concatenation with every
    out-of-vocab character replaced by '?'."""
    from consumer_loans_analysis_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_vocab,
    )

    decode_cases = " ".join(
        f"WHEN '{tid}' THEN '{sym}'"
        for sym, tid in bpe_vocab(DEFAULT_BPE_MERGES).items()
    )
    return f"""
    WITH enc AS ({_bpe_sql()}),
    dec AS (
      SELECT doc_id,
        list_aggregate(
          list_transform(string_split(token_str, ' '),
                         s -> CASE s {decode_cases} ELSE '?' END),
          'string_agg', '') AS decoded
      FROM enc
    ),
    exp AS (
      SELECT doc_id,
        regexp_replace(
          list_aggregate(regexp_extract_all(text, '{_T10_PATTERN}'),
                         'string_agg', ''),
          '[^a-z]', '?', 'g') AS expected
      FROM documents
    )
    SELECT d.doc_id, md5(d.decoded) AS decoded_fp, md5(e.expected) AS expected_fp,
      (d.decoded = e.expected) AS roundtrip_ok
    FROM dec d JOIN exp e USING (doc_id)
    """


@query("t16_bpe_roundtrip", oracle=_t16_oracle())
def t16_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenize + roundtrip integrity: decode(encode(doc)) must equal
    the pretoken concatenation with out-of-vocab characters replaced by
    '?' (encode wraps each character as a symbol, so each unknown char
    becomes exactly one -1 id). ``text.bpe_decode`` is the inspect/debug
    surface every training-corpus pipeline needs (audit by sampling
    decoded sequences); this query pins that encode is invertible on the
    in-vocab subset — a dropped/duplicated/misordered token anywhere in
    the encode path breaks the fingerprint equality. Map-only both
    halves; one doc-level equi-join."""
    docs = read_table(spark, sf_dir, "documents")
    enc = text.bpe_encode(docs)
    dec = text.bpe_decode(enc)
    expected = docs.select(
        "doc_id",
        F.regexp_replace(
            F.array_join(
                F.regexp_extract_all(F.col("text"), F.lit(_T10_PATTERN), F.lit(0)),
                "",
            ),
            "[^a-z]",
            "?",
        ).alias("expected"),
    )
    return dec.join(expected, "doc_id").select(
        "doc_id",
        F.md5("decoded").alias("decoded_fp"),
        F.md5("expected").alias("expected_fp"),
        (F.col("decoded") == F.col("expected")).alias("roundtrip_ok"),
    )


@query(
    "sk5_streaming_mg_heavy_hitters",
    oracle=f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM w)
    SELECT word, COUNT(*) AS exact_n,
      ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS share
    FROM w GROUP BY word
    HAVING COUNT(*) >= {_CMS_PHI} * (SELECT n FROM tot)
    """,
)
def sk5_streaming_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk4 STREAMED: the same φ-heavy answer produced with the corpus
    arriving as three micro-batches through per-group Misra-Gries STATE
    (``streaming/stateful.py::streaming_mg_candidates`` — vocabulary
    hash-sharded into 8 groups, O(k)=64 counters per group maintained
    across batches by the mergeable-summaries rule). The final candidate
    union is a guaranteed superset of the φ-heavy vocabulary regardless
    of arrival order (the sharded retention floor N_g/(k+1) ≤ N/(k+1) <
    φN for k ≥ 1/φ), so one exact verification pass recovers EXACTLY the
    brute-force heavy set — which is why the same plain-SQL frequency
    filter that oracles sk4 oracles a stateful-streaming answer at full
    value fidelity. Heavy-hitters-on-ingest is the production shape for
    corpus vocabulary monitoring: state is n_groups·k counters, constant
    in stream length."""
    import shutil
    import tempfile

    from consumer_loans_analysis_spark.streaming.events import run_foreach_batch
    from consumer_loans_analysis_spark.streaming.stateful import (
        streaming_mg_candidates,
    )

    docs = read_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_mg_")
    try:
        src = f"{work}/chunks"
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        latest: dict[int, tuple[int, dict]] = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                n, cand = latest.get(r["grp"], (0, {}))
                if r["stream_n"] >= n:
                    if r["stream_n"] > n:
                        cand = {}
                    cand[r["word"]] = r["mg_count"]
                    latest[r["grp"]] = (r["stream_n"], cand)

        run_foreach_batch(
            streaming_mg_candidates(stream, k=64, n_groups=8),
            sink,
            checkpoint_dir=f"{work}/ckpt",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cands = sorted(set().union(*[set(c) for _, c in latest.values()]) or set())
    if not cands:
        return spark.createDataFrame(
            [], "word string, exact_n bigint, share double"
        )
    toks = docs.select(F.explode(text.words(F.col("text"))).alias("word"))
    cand_df = spark.createDataFrame([(w,) for w in cands], "word string")
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand_df), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") >= F.lit(_CMS_PHI) * F.col("n"))
        .select(
            "word",
            "exact_n",
            F.round(F.col("exact_n") / F.col("n"), 6).alias("share"),
        )
    )


# -- Data layout: Z-order clustering ledger -----------------------------------


def _zorder_sql(bits: int = 8, n_files: int = 64) -> str:
    """z1 oracle with the Morton interleave unrolled to plain integer
    arithmetic (bit i of each bucket -> position 2i / 2i+1, the exact sum
    ``sources/layout._spread_bits`` computes). All-integer until the two
    final span divisions, so both engines agree value-for-value. DuckDB's
    ``//`` truncates toward zero, which equals floor here because every
    numerator is non-negative by construction (v >= vmin)."""
    w = 1 << bits  # buckets per dim
    z_space = 1 << (2 * bits)

    def spread(v: str) -> str:
        return " + ".join(f"((({v}) >> {i}) & 1) * {4 ** i}" for i in range(bits))

    return f"""
    WITH o AS (
      SELECT o_custkey AS x,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS y
      FROM orders
    ),
    s AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax,
                 MIN(y) AS ymin, MAX(y) AS ymax FROM o),
    k AS (
      SELECT x, y, xmin, xmax, ymin, ymax,
        ((x - xmin) * {w}) // (xmax - xmin + 1) AS xb,
        ((y - ymin) * {w}) // (ymax - ymin + 1) AS yb
      FROM o, s
    ),
    z AS (
      SELECT x, y, xmin, xmax, ymin, ymax, yb,
        ({spread('xb')}) + 2 * ({spread('yb')}) AS zc
      FROM k
    ),
    p AS (
      SELECT 'zorder' AS layout, (zc * {n_files}) // {z_space} AS file_id,
             x, y, xmin, xmax, ymin, ymax FROM z
      UNION ALL
      SELECT 'linear_y' AS layout, (yb * {n_files}) // {w} AS file_id,
             x, y, xmin, xmax, ymin, ymax FROM z
    )
    SELECT layout, file_id, COUNT(*) AS n_rows,
      MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max,
      CAST(MAX(x) - MIN(x) + 1 AS DOUBLE)
        / CAST(MAX(xmax) - MIN(xmin) + 1 AS DOUBLE) AS x_span_frac,
      CAST(MAX(y) - MIN(y) + 1 AS DOUBLE)
        / CAST(MAX(ymax) - MIN(ymin) + 1 AS DOUBLE) AS y_span_frac
    FROM p GROUP BY layout, file_id
    """


@query("z1_zorder_layout_stats", oracle=_zorder_sql())
def z1_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `OPTIMIZE ZORDER BY` skipping ledger over orders
    (custkey × order-day): per output file, row count + per-dimension
    (min, max) + span fractions, for the Z-order layout AND the
    single-dim linear layout side by side — the span fractions are
    precisely what parquet min/max pruning scans in expectation, so this
    query IS the measured benefit of multi-dimensional clustering
    (Z-order: tight on both dims; linear: tight on order-day, ~1.0 on
    custkey). One scalar min/max pass broadcast back, then both layouts'
    file ids computed map-side (pure integer Morton arithmetic in
    codegen) and exploded into ONE groupBy shuffle.
    See ``sources/layout.py::zorder_file_stats`` (the write-path twin is
    ``zorder_write``, pytest-verified to tighten real parquet footers)."""
    from consumer_loans_analysis_spark.sources.layout import zorder_file_stats

    orders = read_table(spark, sf_dir, "orders")
    df = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("order_day"),
    )
    return zorder_file_stats(df, ("custkey", "order_day"), bits=8, n_files=64)


# -- Pinned PCA whitening + Mahalanobis audit ---------------------------------


def _pca1_sql() -> str:
    """pca1 oracle over the PINNED whitening transform: each projection is
    ``(list_dot_product(v, w_j) - c_j) * inv_sd_j`` with the exact repr()
    literals the Spark expression path uses (the d11b ltr pairing), staged
    in a CTE before the left-to-right Mahalanobis sum — the same staging
    and association order as the Spark side, so values match exactly."""
    from consumer_loans_analysis_spark.operators.pca_components import (
        PCA_C,
        PCA_CHI2_90_8,
        PCA_INV_SD,
        PCA_W,
    )

    pcs = []
    for j, (w, c, s) in enumerate(zip(PCA_W, PCA_C, PCA_INV_SD), 1):
        lit = "[" + ", ".join(repr(float(x)) for x in w) + "]"
        pcs.append(
            f"(list_dot_product(v, {lit}) - {repr(float(c))})"
            f" * {repr(float(s))} AS pc{j}"
        )
    maha2 = " + ".join(f"pc{j} * pc{j}" for j in range(1, len(PCA_W) + 1))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, {", ".join(pcs)} FROM e),
    m AS (SELECT *, {maha2} AS maha2 FROM p)
    SELECT *, maha2 > {PCA_CHI2_90_8!r} AS is_outlier FROM m
    """


@query("pca1_pinned_whiten", oracle=_pca1_sql())
def pca1_pinned_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened top-8 PCA projection of every embedding + squared
    Mahalanobis score + chi²₈(0.90) outlier flag, under the pinned
    transform — the covariance-aware embedding audit (dq4 ranks within
    k-means clusters; this whitens against the fitted principal
    subspace). Flag threshold is the chi²₈ 0.90 quantile, not 0.99:
    this corpus's whitened tails are sub-Gaussian (measured — zero rows
    ever cross 0.99), so 0.90 keeps both branches exercised at every
    gate SF (1/32/5 outliers at sf0.001/0.01/0.1 — the dq3/dq5
    threshold-rescaling convention). Map-only Column expressions
    (plan-pinned in tests); full hash oracle via the d11b ltr-dot
    pairing.
    See ``operators/curation.py::pca_whiten_score`` and
    ``operators/pca_components.py`` for provenance/re-pin."""
    from consumer_loans_analysis_spark.operators.curation import pca_whiten_score

    from consumer_loans_analysis_spark.operators.pca_components import (
        PCA_CHI2_90_8,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return pca_whiten_score(emb, threshold=PCA_CHI2_90_8)


@query(
    "sq2_int4_block_quantization",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (
      SELECT vec_id, v,
        list_transform(generate_series(0, 3, 1),
          b -> list_max(list_transform(v[b*16+1 : b*16+16], x -> abs(x)))
        ) AS amax
      FROM e
    ),
    r AS (
      SELECT vec_id, v, amax,
        list_transform(generate_series(0, 63, 1),
          i -> floor(v[i+1] * (7.0 / amax[i//16 + 1]) + 0.5)
               * (amax[i//16 + 1] / 7.0)
        ) AS rv
      FROM a
    )
    SELECT vec_id,
      ROUND(amax[1] / 7.0, 6) AS scale_b0,
      ROUND(amax[2] / 7.0, 6) AS scale_b1,
      ROUND(amax[3] / 7.0, 6) AS scale_b2,
      ROUND(amax[4] / 7.0, 6) AS scale_b3,
      ROUND(list_dot_product(v, rv)
            / (SQRT(list_dot_product(v, v)) * SQRT(list_dot_product(rv, rv))), 6)
        AS recon_cos
    FROM r
    """,
)
def sq2_int4_block_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blockwise symmetric int4 quantization (block absmax = the
    GPTQ/bitsandbytes storage convention) of the embedding column: four
    16-dim blocks, each scaled to the full [-7, 7] code range, reported
    as the per-block dequantize scales + the reconstruction cosine
    (which does NOT cancel scales here, unlike sq1 — each block
    dequantizes differently, so the cosine measures real blockwise
    fidelity). Map-only Column arithmetic over one scan; the absmax
    array is STAGED before the reconstruction builds on it (the sim3b
    staging lesson). 8× storage cut vs float32 at 100 TB.
    See ``operators/similarity.py::quantize_int4_block``."""
    emb = read_table(spark, sf_dir, "embeddings")
    dim, block = 64, 16
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = emb.select(
        "vec_id",
        v.alias("v"),
        similarity.quantize_int4_block(v, dim=dim, block=block).alias("amax"),
    )
    recon = staged.select(
        "vec_id", "v", "amax",
        similarity.recon_int4_block(
            F.col("v"), F.col("amax"), dim=dim, block=block
        ).alias("rv"),
    )
    return recon.select(
        "vec_id",
        *[
            F.round(F.element_at("amax", b + 1) / F.lit(7.0), 6).alias(f"scale_b{b}")
            for b in range(dim // block)
        ],
        F.round(
            similarity.cosine(F.col("v"), F.col("rv")), 6
        ).alias("recon_cos"),
    )


@query(
    "d14_minhash_estimate_audit",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard_exact
      FROM cand
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    ),
    mh AS (
      SELECT id, k,
        MIN(CAST(concat('0x',
              substr(md5(CAST(k AS VARCHAR) || ':' || s), 1, 8)) AS BIGINT))
          AS m
      FROM sh, UNNEST(generate_series(0, 31, 1)) AS g(k)
      GROUP BY id, k
    ),
    agree AS (
      SELECT p.id_a, p.id_b, p.jaccard_exact,
        COUNT(*) FILTER (ma.m = mb.m) AS n_match
      FROM pairs p
      JOIN mh ma ON ma.id = p.id_a
      JOIN mh mb ON mb.id = p.id_b AND mb.k = ma.k
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, jaccard_exact, n_match,
      n_match / 32.0 AS jaccard_est,
      ABS(n_match / 32.0 - jaccard_exact) AS abs_err
    FROM agree
    """,
)
def d14_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATE itself under a full hash oracle — the sketch-
    accuracy ledger sk3 keeps for CMS, here for MinHash: for every
    exact-verified near-dup pair (Jaccard ≥ 0.5), the 32-component
    signature agreement count, the estimate n_match/32, and its absolute
    error against the exact Jaccard. d3 oracles the exact answer (its
    estimates ride xxhash64, which no other engine can restate); this
    audit builds a PORTABLE 32-hash signature instead (md5 of 'k:shingle'
    — the o7/o4b seeded-portable-hash idiom), so both the estimator and
    its error are value-compared against DuckDB, collisions and all.

    Scale shape: the exact pair set reuses d2's inverted-index
    machinery; the 32-hash signatures are map-only higher-order
    expressions (the shingle array is STAGED, then 32 array_min's over
    it) computed ONLY for documents that appear in a candidate pair —
    the tiny pair-id set broadcast-semi-joins the corpus first, so the
    32-md5s-per-shingle portability price is paid on |pairs| documents,
    never the corpus (sf0.1: ~500 of 5000 docs). The pair table and the
    pair-member-only signature table both broadcast into map-side joins
    — nothing corpus-sized ever shuffles. Production keeps xxhash64
    (d3) and audits on a sampled pair set exactly like this."""
    docs = read_table(spark, sf_dir, "documents")
    w = text.words(F.col("text"))
    sh = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.array_join(F.slice(w, i.cast("int"), 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = dedup.jaccard_near_dupes(docs, threshold=0.5).select(
        "id_a", "id_b", F.col("jaccard").alias("jaccard_exact")
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    staged = docs.select(
        F.col("doc_id").alias("id"), F.array_distinct(sh).alias("shd")
    ).join(F.broadcast(cand_ids), "id")
    sig = staged.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda k: F.array_min(
                F.transform(
                    F.col("shd"),
                    lambda s: F.conv(
                        F.substring(
                            F.md5(F.concat(k.cast("string"), F.lit(":"), s)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long"),
                )
            ),
        ).alias("sig"),
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = sa.join(F.broadcast(pairs), "id_a").join(F.broadcast(sb), "id_b")
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    return joined.select(
        "id_a", "id_b", "jaccard_exact",
        n_match.cast("long").alias("n_match"),
        (n_match / F.lit(32.0)).alias("jaccard_est"),
        (F.abs(n_match / F.lit(32.0) - F.col("jaccard_exact"))).alias("abs_err"),
    )


@query(
    "pipe4_clean_dedup_shard",
    oracle="""
    WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    l AS (
      SELECT doc_id, lang,
        list_transform(
          generate_series(0, CAST(floor((len(w) + 9) / 10.0) AS BIGINT) - 1, 1),
          i -> w[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)]
        ) AS lines
      FROM d
    ),
    f AS (
      SELECT doc_id, lang,
        list_filter(lines, L ->
          NOT (len(L) < 5)
          AND NOT list_has_any(L, ['dup'])
          AND NOT (10 * CAST(list_sum(list_transform(L, x -> length(x))) AS BIGINT)
                   < 42 * CAST(len(L) AS BIGINT))
        ) AS kept
      FROM l
    ),
    cleaned AS (
      SELECT doc_id, lang,
        COALESCE(
          array_to_string(list_transform(kept, L -> array_to_string(L, ' ')), ' '),
          '') AS ctext,
        CAST(list_sum(list_transform(kept, L -> len(L))) AS BIGINT) AS n_tokens
      FROM f WHERE len(kept) >= 3
    ),
    deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(ctext) ORDER BY doc_id) AS rk
      FROM cleaned
    )
    SELECT
      CAST(concat('0x', substr(md5(concat('shard:', CAST(doc_id AS VARCHAR))), 1, 8))
        AS BIGINT) % 16 AS shard,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM deduped WHERE rk = 1
    GROUP BY 1, 2
    """,
)
def pipe4_clean_dedup_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth-wave composition flagship: dq5's C4 line cleaning →
    exact dedup on the CLEANED text's fingerprint (catching documents
    that differ only in killed lines — dedup-after-clean is the order
    real pipelines use precisely for this) → deterministic 16-way
    portable-hash sharding (o8's idiom), reporting per-(shard, lang)
    document and surviving-token counts. All-integer outputs — nothing
    for engines to disagree on.

    Scale shape: the C4 battery is map-only and runs BEFORE both
    shuffles (shrinking them to page-rule survivors); the dedup window
    shuffles 32 B cleaned-text fingerprints, not bodies; the shard/lang
    aggregate is the second and last exchange, over a fixed 16×|langs|
    key space. Two shuffles end-to-end, like pipe1."""
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    cleaned = (
        text.c4_line_rules(docs)
        .filter(F.col("keep"))
        .select(
            "doc_id", "lang", "cleaned_md5",
            F.size(text.words(F.col("cleaned_text"))).cast("long").alias(
                "n_tokens"
            ),
        )
    )
    deduped = (
        cleaned.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cleaned_md5").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    shard = (
        text.portable_hash(F.col("doc_id").cast("string"), seed="shard") % 16
    ).alias("shard")
    return (
        deduped.select(shard, "lang", "n_tokens")
        .groupBy("shard", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


@query(
    "pipe5_fluency_curation",
    oracle="""
    WITH d0 AS (
      SELECT doc_id, lang,
        CASE WHEN doc_id % 25 = 0 THEN text || ' ' || text ELSE text END AS text
      FROM documents
    ), dd AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS total_chars,
        string_split(text, ' ') AS w
      FROM d0
    ), occ0 AS (
      SELECT doc_id, total_chars, n, w,
        unnest(range(0, GREATEST(len(w) - n + 1, 0))) AS pos
      FROM dd, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS nn(n)
    ), occ AS (
      SELECT doc_id, total_chars, n, pos,
        array_to_string(w[CAST(pos+1 AS INT) : CAST(pos+n AS INT)], ' ') AS ngram,
        CAST(CASE WHEN pos = 0 THEN 0
             ELSE length(array_to_string(w[1 : CAST(pos AS INT)], ' ')) + 1
             END AS BIGINT) AS s,
        CAST(length(array_to_string(w[1 : CAST(pos+n AS INT)], ' ')) AS BIGINT) AS e
      FROM occ0
    ), grp AS (
      SELECT doc_id, total_chars, n, ngram, COUNT(*) AS c, length(ngram) AS l
      FROM occ WHERE n <= 4 GROUP BY doc_id, total_chars, n, ngram
    ), top AS (
      SELECT doc_id, n,
        CASE WHEN MAX(struct_pack(c := c, l := l)).c > 1
          THEN ROUND(CAST(MAX(struct_pack(c := c, l := l)).c
                          * MAX(struct_pack(c := c, l := l)).l AS DOUBLE)
                     / ANY_VALUE(total_chars), 6)
          ELSE 0.0 END AS f
      FROM grp GROUP BY doc_id, n
    ), cnts AS (
      SELECT doc_id, total_chars, n, s, e,
        COUNT(*) OVER (PARTITION BY doc_id, n, ngram) AS cc
      FROM occ WHERE n >= 5
    ), iv AS (
      SELECT doc_id, total_chars, n, s, e,
        MAX(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM cnts WHERE cc > 1
    ), dup AS (
      SELECT doc_id, n,
        ROUND(CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, -1)), 0)) AS DOUBLE)
              / ANY_VALUE(total_chars), 6) AS f
      FROM iv GROUP BY doc_id, n
    ), allf AS (
      SELECT * FROM top UNION ALL SELECT * FROM dup
    ), p AS (
      SELECT dd.doc_id,
        COALESCE(MAX(CASE WHEN n = 2 THEN f END), 0.0) AS t2,
        COALESCE(MAX(CASE WHEN n = 3 THEN f END), 0.0) AS t3,
        COALESCE(MAX(CASE WHEN n = 4 THEN f END), 0.0) AS t4,
        COALESCE(MAX(CASE WHEN n = 5 THEN f END), 0.0) AS d5,
        COALESCE(MAX(CASE WHEN n = 6 THEN f END), 0.0) AS d6,
        COALESCE(MAX(CASE WHEN n = 7 THEN f END), 0.0) AS d7,
        COALESCE(MAX(CASE WHEN n = 8 THEN f END), 0.0) AS d8,
        COALESCE(MAX(CASE WHEN n = 9 THEN f END), 0.0) AS d9,
        COALESCE(MAX(CASE WHEN n = 10 THEN f END), 0.0) AS d10
      FROM dd LEFT JOIN allf ON dd.doc_id = allf.doc_id
      GROUP BY dd.doc_id
    ), surv AS (
      SELECT d0.doc_id, d0.lang, d0.text
      FROM d0 JOIN p USING (doc_id)
      WHERE p.t2 <= 0.20 AND p.t3 <= 0.18 AND p.t4 <= 0.16
        AND p.d5 <= 0.15 AND p.d6 <= 0.14 AND p.d7 <= 0.13
        AND p.d8 <= 0.12 AND p.d9 <= 0.11 AND p.d10 <= 0.10
    ), sd AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM surv
    ), big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM sd, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
    ), uc AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1p_w1
      FROM bc GROUP BY w1
    ), pre AS (
      SELECT w2, COUNT(*) AS n1p_pre FROM bc GROUP BY w2
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        CAST(COUNT(*) AS DOUBLE) AS types
      FROM bc
    ), model AS (
      SELECT bc.w1, bc.w2,
        ln((GREATEST(CAST(bc.c12 AS DOUBLE)
              - CASE WHEN s.n1 + 2 * s.n2 > 0
                     THEN s.n1 / (s.n1 + 2 * s.n2) ELSE 0.0 END, 0)
            + CASE WHEN s.n1 + 2 * s.n2 > 0
                   THEN s.n1 / (s.n1 + 2 * s.n2) ELSE 0.0 END
              * uc.n1p_w1 * (pre.n1p_pre / s.types))
           / uc.c1) AS logp
      FROM bc JOIN uc USING (w1) JOIN pre ON pre.w2 = bc.w2, s
    ), score AS (
      SELECT b.doc_id, ROUND(-AVG(m.logp), 6) AS ce
      FROM big b JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
      GROUP BY b.doc_id
    ), ranked AS (
      SELECT sc.doc_id, sv.lang, sc.ce,
        ROW_NUMBER() OVER (PARTITION BY sv.lang ORDER BY sc.ce, sc.doc_id) AS rn
      FROM score sc JOIN surv sv ON sv.doc_id = sc.doc_id
    ), cand AS (
      SELECT lang, COUNT(*) AS n_candidates FROM ranked GROUP BY lang
    ), sel AS (
      SELECT lang, doc_id, ce FROM ranked WHERE rn <= 40
    )
    SELECT c.lang,
      CAST(c.n_candidates AS BIGINT) AS n_candidates,
      CAST(COUNT(*) AS BIGINT) AS n_selected,
      ROUND(AVG(se.ce), 6) AS avg_ce,
      md5(string_agg(CAST(se.doc_id AS VARCHAR), ',' ORDER BY se.doc_id))
        AS sel_digest
    FROM sel se JOIN cand c USING (lang)
    GROUP BY c.lang, c.n_candidates
    """,
)
def pipe5_fluency_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 composition flagship: the three round-10 operators end-to-end
    under ONE hash oracle — repetition gate → self-trained Kneser-Ney
    fluency scoring of the SURVIVORS → per-language fluency-ranked
    budget selection (the FineWeb/CCNet shape: kill repetitive junk
    first so it cannot poison the LM, then keep the most fluent docs up
    to a per-language budget).

    1. ``gopher_repetition_rules`` at paper thresholds over the planted
       corpus (dq7's every-25th-doc doubling — the gate must actually
       fire to make stage composition observable);
    2. ``kneser_ney_score`` trained on — and scoring — the gate's
       survivors (the model sees only admitted text, the production
       cadence);
    3. per-language ROW_NUMBER over (rounded ce, doc_id) — rounding
       BEFORE ranking is what makes a float ordering portable across
       engines — keeping the 40 most fluent docs per language.

    Output: per-language admission ledger (candidates, selected, mean
    selected cross-entropy, md5 digest over the sorted selected id set —
    the selection itself is hash-pinned, not just its size). Scale: the
    gate and scorer keep their own shapes (doc-keyed windows;
    vocab²-bounded model). r11 (VERDICT r10 #5): the ledger is ONE
    aggregation over the ranked frame — selected-side columns are
    conditional aggregates over rn ≤ 40 — where r10 branched the ranked
    frame into a candidate count AND a selection (two consumers, so the
    whole KN-scoring lineage past the survivor checkpoint executed
    TWICE; that recompute was the unattributed ~half of the sf1 profile,
    see SCALING.md r11 pipe5 attribution). The n_candidates column
    inherently needs every candidate row, so no WindowGroupLimit cut is
    lost by aggregating once over all ranks."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    gate = text.gopher_repetition_rules(docs).where(F.col("keep")).select(
        "doc_id"
    )
    # eager localCheckpoint: the survivor set feeds the LM count build
    # AND the scoring pass — without it each consumer re-runs the full
    # repetition gate (the t9/d3 multi-consumer rule). r13: lang rides
    # through the scorer (passthrough_cols, the pipe2 precedent), so the
    # doc-keyed lang re-join — two corpus-sized SMJ sides at scale — is
    # gone outright.
    surv = docs.join(gate, "doc_id").localCheckpoint()
    scored = text.kneser_ney_score(surv, passthrough_cols=("lang",))
    w = Window.partitionBy("lang").orderBy("kn_cross_entropy", "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    in_sel = F.col("rn") <= 40
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(in_sel.cast("long")).alias("n_selected"),
        # conditional aggregates skip the NULLs of non-selected rows, so
        # avg/collect_list see exactly the rn <= 40 set
        F.round(F.avg(F.when(in_sel, F.col("kn_cross_entropy"))), 6).alias(
            "avg_ce"
        ),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(in_sel, F.col("doc_id")))),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("sel_digest"),
    ).select("lang", "n_candidates", "n_selected", "avg_ce", "sel_digest")


@query(
    "dq6_stream_c4_gate_drained",
    oracle="""
    WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    l AS (
      SELECT doc_id, lang,
        list_transform(
          generate_series(0, CAST(floor((len(w) + 9) / 10.0) AS BIGINT) - 1, 1),
          i -> w[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)]
        ) AS lines
      FROM d
    ),
    f AS (
      SELECT doc_id, lang, lines,
        list_filter(lines, L ->
          NOT (len(L) < 5)
          AND NOT list_has_any(L, ['dup'])
          AND NOT (10 * CAST(list_sum(list_transform(L, x -> length(x))) AS BIGINT)
                   < 42 * CAST(len(L) AS BIGINT))
        ) AS kept
      FROM l
    )
    SELECT lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN len(kept) >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_kept_docs,
      CAST(SUM(len(lines)) AS BIGINT) AS n_lines,
      CAST(SUM(len(kept)) AS BIGINT) AS n_kept_lines
    FROM f GROUP BY lang
    """,
)
def dq6_stream_c4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QUALITY GATE under the batch oracle: documents arrive in
    three micro-batches (the d10 file-split pattern) and flow through
    dq5's C4 line battery ON THE STREAM — the rules are stateless Column
    projections, so the identical operator code runs batch or streaming
    (the e1/e3 native-operator argument, here for curation). The drained
    per-language admission ledger (docs seen / docs admitted / lines
    seen / lines kept) must equal the batch aggregate exactly: a
    stateless gate commutes with any micro-batch split, and the
    streaming groupBy holds only #langs running rows of state. This is
    the filter-at-ingest shape that avoids ever landing raw pages at
    100 TB."""
    import shutil
    import tempfile

    from consumer_loans_analysis_spark.streaming.events import run_to_memory

    docs = read_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_c4_")
    try:
        src = f"{work}/chunks"
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        gated = (
            text.c4_line_rules(stream)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_kept_docs"),
                F.sum("n_lines").alias("n_lines"),
                F.sum("n_kept_lines").alias("n_kept_lines"),
            )
        )
        run_to_memory(gated, "dq6_gate", output_mode="complete")
        return spark.table("dq6_gate").localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "d15_dedup_threshold_sweep",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
      FROM pairs
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    )
    SELECT t.threshold,
      CAST(COUNT(*) FILTER (jac >= t.threshold) AS BIGINT) AS n_pairs,
      CAST(COUNT(DISTINCT CASE WHEN jac >= t.threshold THEN id_b END) AS BIGINT)
        AS n_docs_removed
    FROM j, (SELECT UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold) t
    GROUP BY t.threshold
    """,
)
def d15_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-aggressiveness curve — the tuning ledger an operator
    reads BEFORE picking the near-dup threshold: for each candidate
    threshold, how many pairs fire and how many documents a
    keep-lowest-id policy would remove (distinct higher ids in a firing
    pair — the d1/d9 canonicalization convention). One pass over d2's
    exact pair machinery; the sweep itself is a 5-row broadcast explode
    over the (tiny) verified pair table, so trying more thresholds costs
    nothing — the production alternative (re-running dedup per
    threshold) re-pays the candidate join each time. Comparisons are
    double-vs-literal on both engines; the Jaccard is an exact integer
    division, so no boundary row can disagree."""
    thresholds = [0.5, 0.6, 0.7, 0.8, 0.9]
    pairs = dedup.jaccard_near_dupes(
        read_table(spark, sf_dir, "documents"), threshold=0.5
    )
    swept = pairs.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(t,) for t in thresholds], "threshold double"
            )
        )
    )
    return swept.groupBy("threshold").agg(
        F.sum((F.col("jaccard") >= F.col("threshold")).cast("long")).alias(
            "n_pairs"
        ),
        F.count_distinct(
            F.when(F.col("jaccard") >= F.col("threshold"), F.col("id_b"))
        ).alias("n_docs_removed"),
    )


@query(
    "t18_word_pmi",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS dw FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    wc AS (
      SELECT w, COUNT(*) AS c_w
      FROM (SELECT doc_id, UNNEST(dw) AS w FROM d) GROUP BY w
    ),
    pc AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_pair
      FROM (SELECT doc_id, UNNEST(dw) AS w FROM d) a
      JOIN (SELECT doc_id, UNNEST(dw) AS w FROM d) b
        ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY 1, 2
    )
    SELECT w1, w2, c_pair,
      ROUND(ln(CAST(c_pair AS DOUBLE) * n.n_docs
               / (CAST(ca.c_w AS DOUBLE) * cb.c_w)), 6) AS pmi
    FROM pc
    JOIN wc ca ON ca.w = w1
    JOIN wc cb ON cb.w = w2
    CROSS JOIN n
    WHERE c_pair >= 5
    """,
)
def t18_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: pointwise mutual information over
    within-document word co-occurrence (document-frequency PMI — the
    classical association score behind phrase mining and
    tokenizer-vocabulary seeding). ``pmi = ln(c_pair·N / (c_w1·c_w2))``
    with a min-support cut (c_pair ≥ 5); no top-k float cut, so no
    cross-engine ln-ulp boundary can change the row set (the drift1
    round-6 convention covers the value itself).

    Scale shape: documents collapse to DISTINCT-word arrays map-side;
    the pair table comes from one self-equi-join on doc_id over the
    exploded (doc, word) rows — per-doc cost is bounded by distinct-
    words², which for natural text is capped by vocabulary and document
    length, NOT corpus size; word marginals are one aggregate of the
    same exploded rows, broadcast back; the 1-row doc count crossJoins
    (the t8/t13 idiom). Pair-key groupBy is the only vocabulary²-bounded
    shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.array_distinct(text.words(F.col("text"))).alias("dw")
    ).localCheckpoint()
    tok = dw.select("doc_id", F.explode("dw").alias("w"))
    n = dw.agg(F.count(F.lit(1)).alias("n_docs"))
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    a = tok.select("doc_id", F.col("w").alias("w1"))
    b = tok.select("doc_id", F.col("w").alias("w2"))
    pc = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= 5)
    )
    ca = wc.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    cb = wc.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    return (
        pc.join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_pair",
            F.round(
                F.log(
                    F.col("c_pair").cast("double") * F.col("n_docs")
                    / (F.col("c_w1").cast("double") * F.col("c_w2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "sim7_hard_negatives",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
      FROM e
      ORDER BY CAST(concat('0x',
          substr(md5(concat('sim7:', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
        vec_id
      LIMIT 25
    ),
    s AS (
      SELECT a.anchor_id, a.anchor_label,
        e.vec_id AS neg_id, e.label AS neg_label,
        list_dot_product(a.av, e.v)
          / (SQRT(list_dot_product(a.av, a.av))
             * SQRT(list_dot_product(e.v, e.v))) AS c
      FROM a JOIN e ON e.label <> a.anchor_label
    ),
    r AS (
      -- undefined cosines (zero-norm anchor or candidate: 0/0 -> NaN/NULL)
      -- are excluded BEFORE the window, mirroring the Spark side's
      -- null-cosine drop: an anchor with no defined cross-label cosine is
      -- absent from BOTH engines (r10 ADVICE #1 — DuckDB's ORDER BY DESC
      -- would otherwise rank a NaN row first and emit it)
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY anchor_id ORDER BY c DESC, neg_id
        ) AS rk
      FROM s WHERE c IS NOT NULL AND NOT isnan(c)
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, ROUND(c, 6) AS cos
    FROM r WHERE rk = 1
    """,
)
def sim7_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training batches: for each of
    25 deterministically-sampled anchors (o4b hash-smallest idiom), the
    most cosine-similar vector with a DIFFERENT label — the cross-label
    confusables triplet/InfoNCE batches are built from. The label
    fan-out is a tiny broadcast EQUI-join (anchor × other-label), the
    top-1 cut a map-side partial min-aggregate over struct(−cos, id) —
    the corpus is scanned once and never shuffles; only #anchors rows
    do. Negation gives the exact cos DESC, id ASC order of the oracle's
    window (IEEE negation is exact), and cosines are the d11b-proven
    ltr pairing — full hash oracle on an approximate-mining surface.
    See ``operators/similarity.py::hard_negatives``."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, n_anchors=25)


@query(
    "maint1_compaction_plan",
    oracle="""
    WITH manifest AS (
      SELECT CAST(strftime(l_shipdate, '%Y-%m') AS VARCHAR) AS file_key,
        COUNT(*) AS sz
      FROM lineitem GROUP BY 1
    ),
    cap AS (
      SELECT CAST(floor((SUM(sz) + 5) / 6.0) AS BIGINT) AS c FROM manifest
    ),
    ordered AS (
      SELECT file_key, sz,
        SUM(sz) OVER (ORDER BY sz DESC, file_key
                      ROWS UNBOUNDED PRECEDING) - sz AS prev_cum
      FROM manifest
    )
    SELECT CAST(o.prev_cum // cap.c AS BIGINT) AS bin_id,
      COUNT(*) AS n_files,
      CAST(SUM(o.sz) AS BIGINT) AS total_rows,
      MIN(o.sz) AS min_file, MAX(o.sz) AS max_file,
      CAST(SUM(o.sz) AS DOUBLE) / MAX(cap.c) AS fill_frac
    FROM ordered o, cap
    GROUP BY 1
    """,
)
def maint1_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse `OPTIMIZE` small-file compaction planner, computed
    AS A QUERY over the file manifest — at 100 TB the manifest is itself
    a table (Delta/Iceberg metadata), so planning which files merge into
    which target-size bin is exactly this aggregation, not a driver
    loop. Stand-in manifest: lineitem's ship-month partitions (file size
    proxied by row count — deterministic, SF-independent shape). Plan:
    files ordered size-DESC (first-fit-decreasing's sort), greedy
    sequential fill into bins of capacity ceil(total/6) via one
    running-sum window (pack1's straddle relaxation: a file is assigned
    by the capacity units completed BEFORE it); per-bin file count, row
    total, min/max file and fill fraction (one exact integer division).

    Scale shape: the manifest aggregate is the only data-sized shuffle;
    the planning window is a global sort over the MANIFEST (bounded by
    file count, thousands at worst — documented single-partition window
    over metadata, the a4/a8 convention), and the scalar capacity
    crossJoins broadcast. All-integer until fill_frac."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    manifest = (
        li.select(F.date_format("l_shipdate", "yyyy-MM").alias("file_key"))
        .groupBy("file_key")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    cap = manifest.agg(
        F.floor((F.sum("sz") + F.lit(5)) / F.lit(6.0)).cast("long").alias("c")
    )
    w = Window.orderBy(F.desc("sz"), F.asc("file_key")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ordered = manifest.select(
        "file_key", "sz", (F.sum("sz").over(w) - F.col("sz")).alias("prev_cum")
    )
    return (
        ordered.crossJoin(F.broadcast(cap))
        .select(
            F.floor(F.col("prev_cum") / F.col("c")).cast("long").alias("bin_id"),
            "sz", "c",
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").alias("total_rows"),
            F.min("sz").alias("min_file"),
            F.max("sz").alias("max_file"),
            (F.sum("sz").cast("double") / F.max("c")).alias("fill_frac"),
        )
    )


# --- t20: WordPiece greedy subword encoding ------------------------------------

# Pinned WordPiece vocabulary for the t20 oracle: prefixes/suffixes of the
# corpus word inventory, so real words split into 2-piece segmentations
# (customer -> cust|omer, stream -> str|eam, ...), whole-word pieces
# exercise longest-match precedence (batch beats ba|tch would-be splits),
# and 'a' (plus the sf1 union's zz<i> markers) exercises the single-char
# fallback. ONE constant feeds both engines.
WP_VOCAB = [
    "join", "hash", "row", "batch", "scan", "cust", "omer", "col", "umn",
    "fil", "ter", "small", "slow", "mer", "ge", "ord", "er", "vec", "tor",
    "line", "data", "ta", "ble", "agg", "val", "ue", "key", "str", "eam",
    "win", "dow", "spark", "gro", "up", "part", "big", "sort", "qu", "ery",
    "fast", "the", "dup",
]


def _t20_oracle() -> str:
    """t20 oracle: the greedy longest-match walk as a recursive CTE per
    DISTINCT word (cursor advances by the matched piece's length; the
    correlated LIMIT-1 subquery is the same length DESC, piece ASC
    longest-match rule; COALESCE is the single-char fallback), then the
    same broadcast-shaped join-back + per-doc aggregation."""
    vocab_values = ", ".join(f"('{p}')" for p in WP_VOCAB)
    return f"""
    WITH RECURSIVE vocab(piece) AS (VALUES {vocab_values}),
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, CAST(pos AS INT) AS pos, w[CAST(pos AS INT)] AS word
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos FROM d)
      WHERE length(w[CAST(pos AS INT)]) > 0
    ),
    dw AS (SELECT DISTINCT word FROM tok),
    seg(word, pos, piece) AS (
      SELECT word, CAST(1 AS BIGINT) AS pos, COALESCE(
        (SELECT piece FROM vocab
         WHERE piece = substr(dw.word, 1, length(piece))
         ORDER BY length(piece) DESC, piece LIMIT 1),
        substr(word, 1, 1))
      FROM dw
      UNION ALL
      SELECT word, pos + length(piece), COALESCE(
        (SELECT piece FROM vocab
         WHERE piece = substr(seg.word, CAST(seg.pos + length(seg.piece) AS INT),
                              length(piece))
         ORDER BY length(piece) DESC, piece LIMIT 1),
        substr(word, CAST(pos + length(piece) AS INT), 1))
      FROM seg WHERE pos + length(piece) <= length(word)
    ),
    enc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS np,
        string_agg(piece, ' ' ORDER BY pos) AS pstr
      FROM seg GROUP BY word
    )
    SELECT t.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(e.np) AS BIGINT) AS n_pieces,
      ROUND(SUM(e.np) * 1.0 / COUNT(*), 6) AS fertility,
      md5(string_agg(e.pstr, ' ' ORDER BY t.pos)) AS pieces_digest
    FROM tok t JOIN enc e USING (word)
    GROUP BY t.doc_id
    """


@query("t20_wordpiece_greedy_encode", oracle=_t20_oracle())
def t20_wordpiece_greedy_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-family tokenizer surface (r11): greedy longest-match
    subword encoding with a pinned vocabulary — BERT's tokenizer class,
    the production alternative to the t14b/t15 BPE family. The per-doc
    ``pieces_digest`` puts the SEGMENTATION itself (every piece of every
    word, in order) under the hash compare, so a greedy-walk off-by-one,
    a wrong tie-break, or a broken fallback hash-mismatches rather than
    just nudging counts. Map-only Arrow pass with the vocabulary in the
    closure (per-length hash sets, per-word LRU cache): zero Exchange at
    any corpus size. See ``operators/text.py::wordpiece_encode``."""
    docs = read_table(spark, sf_dir, "documents")
    return text.wordpiece_encode(docs, WP_VOCAB)


# --- dq8: learned seed-vs-web quality classifier -------------------------------

@query(
    "dq8_seed_quality_classifier",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
        CASE WHEN source = 'src0' AND doc_id % 2 = 0
               THEN text || ' curated curated quality'
             WHEN source <> 'src0' AND doc_id % 50 = 0
               THEN text || ' quality'
             ELSE text END AS text,
        (source = 'src0') AS is_s
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source, is_s, unnest(string_split(text, ' ')) AS w FROM d
    ),
    counts AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c_all,
        CAST(SUM(CASE WHEN is_s THEN 1 ELSE 0 END) AS BIGINT) AS c_s
      FROM tok GROUP BY w
    ),
    scal AS (
      SELECT CAST(SUM(c_s) AS DOUBLE) AS n_s,
        CAST(SUM(c_all) - SUM(c_s) AS DOUBLE) AS n_b,
        CAST(COUNT(*) AS DOUBLE) AS v
      FROM counts
    ),
    prior AS (
      SELECT CAST(SUM(CASE WHEN is_s THEN 1 ELSE 0 END) AS DOUBLE) AS d_s,
        CAST(SUM(CASE WHEN is_s THEN 0 ELSE 1 END) AS DOUBLE) AS d_b
      FROM d
    ),
    model AS (
      SELECT w,
        ln((c_s + 1.0) / (n_s + 1.0 * v))
          - ln((c_all - c_s + 1.0) / (n_b + 1.0 * v)) AS llr
      FROM counts, scal
    ),
    scored AS (
      SELECT t.doc_id, t.source,
        CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(m.llr) AS s_llr
      FROM tok t JOIN model m USING (w) GROUP BY t.doc_id, t.source
    ),
    fin AS (
      SELECT s.doc_id, s.source, s.n_tokens,
        ROUND(ln(d_s / (d_s + d_b)) - ln(d_b / (d_s + d_b)) + s_llr, 6)
          AS log_odds
      FROM scored s, prior
    )
    SELECT doc_id, source, n_tokens, log_odds, (log_odds > 0) AS kept FROM fin
    """,
)
def dq8_seed_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (r11): train a seed-vs-web text classifier
    and keep seed-like documents — the GPT-3 / LLaMA data-pipeline step
    (Brown et al. 2020 §A: LR over hashed features vs a trusted seed;
    fastText in CCNet-descended pipelines). Multinomial NB makes the fit
    CLOSED-FORM (one token-count aggregation — no iterations), so unlike
    an SGD-trained linear model the entire fit+score dataflow sits under
    the external hash oracle. src0 is the trusted seed; a deterministic
    marker plant (half the seed docs + every 50th non-seed doc gain
    'quality'/'curated' tokens) gives the vocabulary a real class skew,
    so the decision boundary does non-trivial work — graded scores, a
    non-trivial kept set — while both engines re-derive the plant from
    the data. Scale: DSIR's shape — explode → ONE vocab-bounded
    conditional-count aggregation, broadcast model join-back, one
    doc-keyed score aggregation. See
    ``operators/curation.py::nb_seed_classifier``."""
    from consumer_loans_analysis_spark.operators import curation

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            (F.col("source") == "src0") & (F.col("doc_id") % 2 == 0),
            F.concat(F.col("text"), F.lit(" curated curated quality")),
        )
        .when(
            (F.col("source") != "src0") & (F.col("doc_id") % 50 == 0),
            F.concat(F.col("text"), F.lit(" quality")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return curation.nb_seed_classifier(docs, F.col("source") == "src0")


@query(
    "dq8b_seed_quality_hashed",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
        CASE WHEN source = 'src0' AND doc_id % 2 = 0
               THEN text || ' curated curated quality'
             WHEN source <> 'src0' AND doc_id % 50 = 0
               THEN text || ' quality'
             ELSE text END AS text,
        (source = 'src0') AS is_s
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source, is_s,
        CAST(concat('0x', substr(md5(concat('12:', w)), 1, 8)) AS BIGINT)
          % 1048576 AS b
      FROM (SELECT doc_id, source, is_s,
              unnest(string_split(text, ' ')) AS w FROM d)
    ),
    counts AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c_all,
        CAST(SUM(CASE WHEN is_s THEN 1 ELSE 0 END) AS BIGINT) AS c_s
      FROM tok GROUP BY b
    ),
    scal AS (
      SELECT CAST(SUM(c_s) AS DOUBLE) AS n_s,
        CAST(SUM(c_all) - SUM(c_s) AS DOUBLE) AS n_b
      FROM counts
    ),
    prior AS (
      SELECT CAST(SUM(CASE WHEN is_s THEN 1 ELSE 0 END) AS DOUBLE) AS d_s,
        CAST(SUM(CASE WHEN is_s THEN 0 ELSE 1 END) AS DOUBLE) AS d_b
      FROM d
    ),
    model AS (
      SELECT b,
        ln((c_s + 1.0) / (n_s + 1.0 * 1048576.0))
          - ln((c_all - c_s + 1.0) / (n_b + 1.0 * 1048576.0)) AS llr
      FROM counts, scal
    ),
    scored AS (
      SELECT t.doc_id, t.source,
        CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(m.llr) AS s_llr
      FROM tok t JOIN model m USING (b) GROUP BY t.doc_id, t.source
    ),
    fin AS (
      SELECT s.doc_id, s.source, s.n_tokens,
        ROUND(ln(d_s / (d_s + d_b)) - ln(d_b / (d_s + d_b)) + s_llr, 6)
          AS log_odds
      FROM scored s, prior
    )
    SELECT doc_id, source, n_tokens, log_odds, (log_odds > 0) AS kept FROM fin
    """,
)
def dq8b_seed_quality_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature twin of dq8 (r12, VERDICT r11 #3): the same
    closed-form seed-vs-web NB filter over a FIXED 2^20-bucket hashed
    feature space — the actual Brown et al. 2020 §A / fastText shape.
    The model is exactly n_buckets rows regardless of corpus size, so
    its broadcast is structurally justified at 100 TB (dq8's exact-vocab
    model is Heaps-bounded but NOT broadcast-bounded; its join keeps an
    explicit model-side broadcast because the r12 un-hinting experiment
    measured the static planner broadcasting the CORPUS side instead).
    The bucket hash is the engine-portable md5 prefix, so the full
    fit+score dataflow — hashing-trick collisions included — sits under
    the external hash oracle; smoothing is over the fixed feature space
    (v = 2^20).
    Same marker plant as dq8, re-derived from data by both engines.
    See ``operators/curation.py::nb_seed_classifier_hashed``."""
    from consumer_loans_analysis_spark.operators import curation

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            (F.col("source") == "src0") & (F.col("doc_id") % 2 == 0),
            F.concat(F.col("text"), F.lit(" curated curated quality")),
        )
        .when(
            (F.col("source") != "src0") & (F.col("doc_id") % 50 == 0),
            F.concat(F.col("text"), F.lit(" quality")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return curation.nb_seed_classifier_hashed(docs, F.col("source") == "src0")


# --- t21: unigram-LM (SentencePiece-family) Viterbi encoding --------------------

# Pinned unigram vocabulary (piece, integer centi-nat cost). Costs are
# chosen so the OPTIMAL segmentation differs from greedy longest-match on
# real corpus words in BOTH directions: 'batch' -> ba|tch (450 < 900, the
# cheap split beats the whole-word piece greedy would take) while
# 'data' -> data (320 < da|ta's 500, the whole word beats the available
# split) — so the oracle checks genuine Viterbi, not greedy in disguise.
UNI_VOCAB = [
    ("join", 330), ("hash", 340), ("row", 250), ("scan", 330),
    ("batch", 900), ("ba", 200), ("tch", 250),
    ("cust", 300), ("omer", 300), ("col", 250), ("umn", 300),
    ("fil", 250), ("ter", 200), ("small", 450), ("slow", 400),
    ("mer", 250), ("ge", 200), ("ord", 250), ("er", 150),
    ("vec", 250), ("tor", 250), ("line", 350),
    ("data", 320), ("da", 300), ("ta", 200), ("table", 600), ("ble", 300),
    ("agg", 260), ("val", 250), ("ue", 220), ("key", 240),
    ("str", 230), ("eam", 260), ("win", 220), ("dow", 260),
    ("spark", 420), ("gro", 240), ("up", 180), ("part", 340),
    ("big", 230), ("sort", 330), ("qu", 210), ("ery", 240),
    ("fast", 310), ("the", 200), ("dup", 230),
]


def _t21_oracle() -> str:
    """t21 oracle: the Viterbi DP as a recursive CTE per distinct word —
    the forward pass carries the best-cost/choice tables as LIST columns
    (the recursion's working set is one row per word; each step reads
    best[i-len] by list index and takes the (cost ASC, len DESC, piece
    ASC) winner over the vocab literals + the single-char fallback), the
    backward pass reads the stored choices. Integer costs make every
    comparison exact — no float enters the DP."""
    vocab_values = ", ".join(f"('{p}', {len(p)}, {c})" for p, c in UNI_VOCAB)
    from consumer_loans_analysis_spark.operators.text import UNIGRAM_FALLBACK_COST

    return f"""
    WITH RECURSIVE vocab(p, l, c) AS (VALUES {vocab_values}),
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, CAST(pos AS INT) AS pos, w[CAST(pos AS INT)] AS word
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos FROM d)
      WHERE length(w[CAST(pos AS INT)]) > 0
    ),
    dw AS (SELECT DISTINCT word FROM tok),
    fwd(word, pos, costs, plens, pieces_) AS (
      SELECT word, 0, [CAST(0 AS BIGINT)], [CAST(0 AS INT)],
        [CAST('' AS VARCHAR)] FROM dw
      UNION ALL
      SELECT word, pos + 1,
        list_append(costs, win['t']), list_append(plens, win['l']),
        list_append(pieces_, win['p'])
      FROM (
        SELECT word, pos, costs, plens, pieces_,
          (SELECT {{'t': t, 'l': l, 'p': p}} FROM (
             SELECT costs[f.pos + 1 - v.l + 1] + v.c AS t, v.l AS l, v.p AS p
             FROM vocab v
             WHERE v.l <= f.pos + 1
               AND substr(f.word, f.pos + 1 - v.l + 1, v.l) = v.p
             UNION ALL
             SELECT costs[f.pos + 1] + {UNIGRAM_FALLBACK_COST}, 1,
               substr(f.word, f.pos + 1, 1)
           ) ORDER BY t, l DESC, p LIMIT 1) AS win
        FROM fwd f WHERE pos < length(word)
      )
    ),
    fin AS (
      SELECT word, costs[length(word) + 1] AS wcost, plens, pieces_
      FROM fwd WHERE pos = length(word)
    ),
    bt(word, pos, out, plens, pieces_) AS (
      SELECT word, CAST(length(word) AS INT), CAST([] AS VARCHAR[]),
        plens, pieces_ FROM fin
      UNION ALL
      SELECT word, pos - plens[pos + 1], list_concat([pieces_[pos + 1]], out),
        plens, pieces_
      FROM bt WHERE pos > 0
    ),
    enc AS (
      SELECT b.word, f.wcost, CAST(len(b.out) AS BIGINT) AS np,
        array_to_string(b.out, ' ') AS pstr
      FROM bt b JOIN fin f USING (word) WHERE b.pos = 0
    )
    SELECT t.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(e.np) AS BIGINT) AS n_pieces,
      ROUND(SUM(e.np) * 1.0 / COUNT(*), 6) AS fertility,
      CAST(SUM(e.wcost) AS BIGINT) AS total_cost,
      md5(string_agg(e.pstr, ' ' ORDER BY t.pos)) AS pieces_digest
    FROM tok t JOIN enc e USING (word)
    GROUP BY t.doc_id
    """


@query("t21_unigram_viterbi_encode", oracle=_t21_oracle())
def t21_unigram_viterbi_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer surface (r11) — SentencePiece's family (Kudo
    2018), completing the production tokenizer triad next to the BPE
    family (t14b/t15) and WordPiece greedy (t20): per word the
    MINIMUM-COST segmentation by Viterbi DP over pinned integer
    centi-nat piece costs. ``total_cost`` is an exact BIGINT, so the
    oracle compares the optimum itself; ``pieces_digest`` pins the
    argmin segmentation piece by piece. Map-only Arrow pass with the
    (piece -> cost) dict in the closure: zero Exchange. See
    ``operators/text.py::unigram_encode``."""
    docs = read_table(spark, sf_dir, "documents")
    return text.unigram_encode(docs, UNI_VOCAB)


# --- c2: train/eval split leakage audit ----------------------------------------

@query(
    "c2_split_leakage_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        CAST(CAST(concat('0x', substr(md5(concat('11:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 5 AS INT) AS fold_id,
        CAST(CAST(concat('0x', substr(md5(concat('11:', md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')))), 1, 8)) AS BIGINT) % 5 AS INT) AS fold_fp
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        a.fold_id AS fa_id, b.fold_id AS fb_id,
        a.fold_fp AS fa_fp, b.fold_fp AS fb_fp
      FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
      CAST(SUM(CASE WHEN fa_id <> fb_id THEN 1 ELSE 0 END) AS BIGINT) AS straddle_id_fold,
      ROUND(SUM(CASE WHEN fa_id <> fb_id THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS leak_frac_id_fold,
      CAST(SUM(CASE WHEN fa_fp <> fb_fp THEN 1 ELSE 0 END) AS BIGINT) AS straddle_fp_fold
    FROM pairs
    """,
)
def c2_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval SPLIT-LEAKAGE audit (r11): how many duplicate document
    pairs STRADDLE fold boundaries? Duplicates straddling a train/eval
    split leak answers into evaluation — the published contamination
    failure mode for both benchmarks and dedup-naive CV. The audit
    compares two deterministic 5-fold splits side by side: folding on
    doc_id (the naive split — straddle fraction ≈ 1−1/k by construction)
    vs folding on the CONTENT fingerprint (every dup lands in one fold —
    straddle count 0, proven per row by the oracle, not asserted). This
    is the m3q2 group-fold principle applied with content as the group
    key. Pairing key = t4's bag-of-words content fingerprint (sorted
    distinct tokens) — the near-dup class that actually leaks (reordered
    / lightly-edited twins), not just byte-identical copies; the test
    corpus has hundreds of such pairs at every SF. Scale: pairs explode
    only within dup groups (bounded by group size; at 100 TB you'd run
    this on d6's canonical-vs-member pairs instead of all-pairs — same
    audit, linear pair count); everything else is one fingerprint
    shuffle."""
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(text.words(F.col("text")))), " ")
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        fp.alias("fp"),
        (text.portable_hash(F.col("doc_id").cast("string"), seed=11) % 5)
        .cast("int")
        .alias("fold_id"),
        (text.portable_hash(fp, seed=11) % 5).cast("int").alias("fold_fp"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.sum((F.col("a.fold_id") != F.col("b.fold_id")).cast("long")).alias(
            "straddle_id_fold"
        ),
        F.round(
            F.sum((F.col("a.fold_id") != F.col("b.fold_id")).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("leak_frac_id_fold"),
        F.sum((F.col("a.fold_fp") != F.col("b.fold_fp")).cast("long")).alias(
            "straddle_fp_fold"
        ),
    )
