"""Text-analysis operators for large-scale training-data pipelines.

Mostly pure Column expressions (JVM-side, whole-stage-codegen). Per-document
operators whose state does not fit a Column fold — Kneser-Ney scoring, the
Gopher repetition battery, the subword encoders — run as map-only Arrow
``mapInPandas`` passes. The portable hash is md5-based so results are
reproducible across engines and across Spark versions (murmur3 `F.hash` is
JVM-implementation-specific; md5 is a fixed standard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def portable_hash(col: Column, seed: int | None = None, hex_chars: int = 8) -> Column:
    """Deterministic non-negative integer hash of a string column: first
    ``hex_chars`` hex digits of md5, as a long. Engine-portable (DuckDB:
    ``CAST(concat('0x', substr(md5(x),1,n)) AS BIGINT)``)."""
    x = F.concat(F.lit(f"{seed}:"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(x), 1, hex_chars), 16, 10).cast("long")


def portable_hash64(col: Column, seed: int | None = None) -> Column:
    """Full-width 64-bit engine-portable hash: the first 16 md5 hex digits
    as a SIGNED long bit pattern. A single ``conv(..., 16, 10)`` cast can't
    express this (values ≥ 2⁶³ overflow the long cast), so combine two
    32-bit halves with a bit shift — shifts are defined on the bit pattern
    and never overflow-check. DuckDB equivalent:
    ``CAST(concat('0x', substr(md5(x), 1, 16)) AS UBIGINT)::BIGINT``.

    Use over ``portable_hash`` wherever all 64 bits must be informative
    (e.g. 64-bit SimHash signatures: with a 32-bit hash the top bits are
    constant-zero, and any Manku block covering them matches EVERY pair)."""
    x = F.concat(F.lit(f"{seed}:"), col) if seed is not None else col
    h = F.md5(x)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def words(col: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(col, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(len/4) pieces per word — the ~4-chars-per-token heuristic)."""
    w = words(F.col(text_col))
    return df.withColumn("n_tokens", F.size(w)).withColumn(
        "n_subwords",
        F.aggregate(
            w, F.lit(0).cast("long"),
            lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("long"),
        ),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring features: char/word counts, mean word length,
    type-token ratio, stopword ratio — and a composite score in [0,1].

    The composite mirrors common pretraining-corpus filters (Gopher-style
    length + repetition heuristics) with fixed, documented weights.
    """
    w = words(F.col(text_col))
    stop = F.array(*[F.lit(s) for s in ["the", "a", "and", "of", "to", "in"]])
    n_words = F.size(w).cast("double")
    n_chars = F.length(F.col(text_col)).cast("double")
    # try_divide: a pathological empty document has n_words == 0; NULL
    # features beat a DIVIDE_BY_ZERO abort under ANSI-on sessions.
    mean_word_len = F.try_divide(n_chars - (n_words - 1), n_words)
    ttr = F.try_divide(F.size(F.array_distinct(w)).cast("double"), n_words)
    stop_ratio = F.try_divide(
        F.size(F.filter(w, lambda x: F.array_contains(stop, x))).cast("double"),
        n_words,
    )
    score = (
        F.least(n_words / F.lit(200.0), F.lit(1.0)) * 0.4
        + ttr * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
    )
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("type_token_ratio", ttr)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("quality_score", score)
    )


# Gopher's quality-filter stopword list (Rae et al. 2021, §A1.1: a document
# must contain ≥ 2 of these "must-have" function words).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher quality-filter rule battery (Rae et al. 2021, §A1.1) as one
    named per-rule boolean battery — the per-document audit trail real
    curation pipelines keep (which rule killed a document matters as much
    as whether it was killed).

    Rules, each a pure Column expression (map-only, whole-stage codegen;
    at 100 TB this runs at scan rate and composes with o9/dq2/pipe1):
    word count in [min,max]; mean word length in [3,10]; symbol-to-word
    ratio ('#' and '...' occurrences) ≤ 0.1; ≥ 80% of words contain an
    alphabetic character; ≥ 2 Gopher stopwords. The paper's line-shape
    rules (bullet-start/ellipsis-end line fractions) are omitted: this
    corpus is single-line (no newlines in any document — measured), so
    they are vacuously true and would pad the output.

    Defaults are the PAPER's thresholds; callers on short-document
    corpora (like this testdata) pass rescaled word-count bounds the way
    d5/d11 rescale their cosine thresholds.
    """
    w = words(F.col(text_col))
    n_words = F.size(w)
    # sum of word lengths stays integer (exact); the mean divides once at
    # the end — identical IEEE division in any engine. try_divide: NULL
    # on a pathological empty document rather than an ANSI abort.
    sum_wl = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    mean_wl = F.try_divide(sum_wl.cast("double"), n_words.cast("double"))
    txt = F.col(text_col)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.try_divide(
        (n_hash + n_ellipsis).cast("double"), n_words.cast("double")
    )
    alpha_ratio = F.try_divide(
        F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))).cast("double"),
        n_words.cast("double"),
    )
    stop = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop, x)))
    ok_words = n_words.between(min_words, max_words)
    ok_mean = mean_wl.between(min_mean_word_len, max_mean_word_len)
    ok_symbol = symbol_ratio <= max_symbol_ratio
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    ok_stop = n_stop >= min_stopwords
    return df.select(
        "*",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_symbol & ok_alpha & ok_stop).alias("keep"),
    )


def kneser_ney_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough_cols: tuple = (),
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (t19) — see the
    ``t19_kneser_ney_score`` query docstring for the formula and
    smoothing rationale. Returns (id, n_bigrams, kn_cross_entropy);
    documents with fewer than 2 words score no rows (no bigrams),
    matching the oracle's join semantics.

    Model build: the continuation/discount statistics are exact integer
    aggregations of the bigram-counts table, so they are computed in ONE
    driver-side pandas pass over that table — no shuffled aggregation,
    join or checkpoint in the plan. The log-probabilities are evaluated
    by Spark's ``log`` over the local model relation (``_logp``).

    ``passthrough_cols`` (the pipe2 precedent): per-doc constant columns
    copied onto the output — zero compute (they ride the Arrow batch) —
    so callers need no doc-keyed join to re-attach them.

    The input is read twice (model pass, scoring pass), so it must be
    deterministic: a bigram the model pass never saw raises a
    ``ValueError`` naming that cause."""

    def _logp(disc: Column, types: Column) -> Column:
        # the interpolated-KN log-probability (implicit casts: c1/n1p_w1/
        # n1p_pre stay LONG, disc/types DOUBLE)
        return F.log(
            (
                F.greatest(F.col("c12").cast("double") - disc, F.lit(0.0))
                + disc * F.col("n1p_w1") * (F.col("n1p_pre") / types)
            )
            / F.col("c1")
        )

    # Two map-only Arrow corpus passes. Pass one counts (w1,w2) pairs per
    # batch (C-level dict ops; partials collected and final-summed
    # exactly in pandas int64); the model statistics (unigram totals,
    # left/right continuation counts, the count-of-counts discount) are
    # pandas aggregations of that bigram-TYPES table on the driver. Pass
    # two scores each doc against the model dict in the closure. ZERO
    # Exchange, zero joins — the floor for self-trained scoring. The
    # per-doc sum is the left-to-right accumulation a hash-agg partial
    # would perform (a doc's bigrams stay in one batch).
    from collections import Counter

    import pandas as pd

    spark = df.sparkSession
    id_t = df.schema[id_col].dataType.simpleString()

    def count_pairs(batches):
        for pdf in batches:
            cnt: Counter = Counter()
            for txt in pdf[text_col]:
                ws = txt.split(" ") if txt is not None else []
                if len(ws) >= 2:
                    cnt.update(zip(ws, ws[1:]))
            if cnt:
                yield pd.DataFrame(
                    {
                        "w1": [k[0] for k in cnt],
                        "w2": [k[1] for k in cnt],
                        "c": pd.Series(list(cnt.values()), dtype="int64"),
                    }
                )

    part = df.select(text_col).mapInPandas(
        count_pairs, "w1 string, w2 string, c long"
    )
    pc = part.toPandas()  # ≤ bigram-types × partitions partial rows
    counts = (
        pc.groupby(["w1", "w2"], as_index=False)["c"]
        .sum()
        .rename(columns={"c": "c12"})
    )
    schema = (
        "w1 string, w2 string, c12 long, c1 long, n1p_w1 long, n1p_pre long"
    )
    if len(counts) == 0:
        model_rows = []
    else:
        g1 = counts.groupby("w1")["c12"]
        counts["c1"] = g1.transform("sum")
        counts["n1p_w1"] = g1.transform("size")
        counts["n1p_pre"] = counts.groupby("w2")["c12"].transform("size")
        c12v = counts["c12"]
        n1 = float((c12v == 1).sum())
        n2 = float((c12v == 2).sum())
        types_f = float(len(counts))
        # a corpus dense enough that NO bigram has count 1 or 2 gives the
        # count-of-counts estimate no evidence: D = 0/0. The correct limit
        # is D = 0 (no discount -> plain MLE). With literal scalars
        # Catalyst constant-folds the double division.
        disc = (
            F.lit(n1) / (F.lit(n1) + 2 * F.lit(n2))
            if n1 + 2 * n2 > 0
            else F.lit(0.0)
        )
        model_src = spark.createDataFrame(
            counts[["w1", "w2", "c12", "c1", "n1p_w1", "n1p_pre"]], schema
        )
        model_rows = model_src.select(
            "w1", "w2", _logp(disc, F.lit(types_f)).alias("logp")
        ).collect()  # LocalTableScan — no cluster job
    logp_map = {(r[0], r[1]): r[2] for r in model_rows}

    def score(batches):
        for pdf in batches:
            keep_idx: list = []
            nb: list = []
            ce: list = []
            for i, txt in enumerate(pdf[text_col]):
                ws = txt.split(" ") if txt is not None else []
                if len(ws) < 2:
                    continue  # no bigrams -> no row (join semantics)
                s = 0.0
                n = 0
                try:
                    for pair in zip(ws, ws[1:]):
                        s += logp_map[pair]
                        n += 1
                except KeyError as e:
                    # every corpus bigram is in the model unless the
                    # upstream frame produced different rows this time
                    raise ValueError(
                        f"kneser_ney_score: bigram {e.args[0]!r} is missing "
                        "from the model: the input changed between the model "
                        "pass and the scoring pass. The input must be "
                        "deterministic; checkpoint or cache it first."
                    ) from None
                keep_idx.append(i)
                nb.append(n)
                ce.append(_spark_round6(-(s / n)))
            out = {
                id_col: pdf[id_col].iloc[keep_idx].reset_index(drop=True),
                "n_bigrams": pd.Series(nb, dtype="int64"),
                "kn_cross_entropy": pd.Series(ce, dtype="float64"),
            }
            for c in passthrough_cols:
                out[c] = pdf[c].iloc[keep_idx].reset_index(drop=True)
            yield pd.DataFrame(out)

    pt_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}"
        for c in passthrough_cols
    )
    return df.select(id_col, text_col, *passthrough_cols).mapInPandas(
        score,
        f"{id_col} {id_t}, n_bigrams long, kn_cross_entropy double"
        + pt_schema,
    )


GOPHER_TOP_NGRAM_MAX_FRAC = ((2, 0.20), (3, 0.18), (4, 0.16))
GOPHER_DUP_NGRAM_MAX_FRAC = (
    (5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10)
)


def gopher_repetition_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_max_frac: tuple = GOPHER_TOP_NGRAM_MAX_FRAC,
    dup_ngram_max_frac: tuple = GOPHER_DUP_NGRAM_MAX_FRAC,
) -> DataFrame:
    """Gopher REPETITION-removal battery (Rae et al. 2021 §A1.2) — the
    companion to ``gopher_quality_rules`` (§A1.1, dq3): repetitive junk
    (boilerplate loops, degenerate generations, scraped nav bars) is the
    other big kill class in LLM curation. Two rule families, both over
    word n-grams with CHARACTER accounting, as the paper specifies:

    - top n-gram fraction (n = 2, 3, 4): characters covered by the most
      frequent n-gram (count × n-gram char length; overlapping
      occurrences may push it past 1.0, faithfully) / total characters,
      capped at the paper's 0.20 / 0.18 / 0.16. A top n-gram occurring
      once is not repetition — the fraction reads 0 then (the standard
      implementation's behavior). Ties on count break to the LONGEST
      n-gram (the conservative read; deterministic in both engines via
      struct-max on (count, char_len) — the fraction value is
      tie-invariant beyond that).
    - duplicate n-gram fraction (n = 5..10): characters covered by at
      least one occurrence of any n-gram appearing more than once in the
      document, counted ONCE per character (interval union over char
      spans — the standard no-double-count reading), / total characters;
      caps 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10.

    The paper's duplicate line/paragraph rules are omitted for the same
    measured reason as in dq3/dq5: this corpus is single-line.

    Scale shape (r13): the ENTIRE battery is per-document arithmetic, so
    it runs as ONE map-only Arrow pass — ``mapInPandas`` with all nine
    rules computed per doc in-batch — ZERO Exchange, no join against the
    corpus (the r12 shape was one posexplode + four doc-keyed
    window/aggregate exchanges; every value is unchanged — per-rule
    integer char accounting with one half-up-rounded double division,
    pinned by the hand-computed pytest and the dq7/pipe5 hash oracles).
    The n-gram string IS ``text[s:e]`` because split-on-space words
    re-join to the original text exactly, so occurrence counting hashes
    C-level string slices, never building tuples. At 100 TB this is the
    same cost class as a tokenize pass — literally one.
    """
    import pandas as pd

    ns = sorted(
        [n for n, _ in top_ngram_max_frac] + [n for n, _ in dup_ngram_max_frac]
    )
    top_ns = {n for n, _ in top_ngram_max_frac}
    frac_names = [
        f"top_{n}gram_frac" if n in top_ns else f"dup_{n}gram_frac" for n in ns
    ]
    flag_specs = [
        (f"ok_top_{n}gram", f"top_{n}gram_frac", cap)
        for n, cap in top_ngram_max_frac
    ] + [
        (f"ok_dup_{n}gram", f"dup_{n}gram_frac", cap)
        for n, cap in dup_ngram_max_frac
    ]
    id_t = df.schema[id_col].dataType.simpleString()

    def battery(batches):
        from collections import Counter

        for pdf in batches:
            cols: dict = {nm: [] for nm in frac_names}
            for txt in pdf[text_col]:
                ws = txt.split(" ") if txt is not None else []
                m = len(ws)
                # char offset of word i = Σ_{k<i}(len_k + 1); words
                # re-join to txt exactly, so txt[starts[i]:ends[j]] IS
                # concat_ws(" ", words i..j)
                starts = [0] * m
                acc = 0
                for j, wd in enumerate(ws):
                    starts[j] = acc
                    acc += len(wd) + 1
                ends = [starts[j] + len(ws[j]) for j in range(m)]
                total = float(len(txt)) if txt else 0.0
                for n, nm in zip(ns, frac_names):
                    if m < n:
                        cols[nm].append(0.0)
                        continue
                    grams = [
                        txt[starts[i] : ends[i + n - 1]]
                        for i in range(m - n + 1)
                    ]
                    cnt = Counter(grams)
                    if n in top_ns:
                        # (count, char_len)-max; count 1 is not
                        # repetition — the rule reads 0 then (the
                        # standard implementation's `if count == 1:
                        # continue`)
                        c, l = max((c, len(g)) for g, c in cnt.items())
                        cols[nm].append(
                            _spark_round6(float(c * l) / total)
                            if c > 1
                            else 0.0
                        )
                    else:
                        # interval union of duplicated spans: spans come
                        # out in ascending s (positions ascend), so the
                        # running-max union is one pass
                        cov = 0
                        pmax = -1
                        for i, g in enumerate(grams):
                            if cnt[g] > 1:
                                e_i = ends[i + n - 1]
                                lo = max(starts[i], pmax)
                                if e_i > lo:
                                    cov += e_i - lo
                                if e_i > pmax:
                                    pmax = e_i
                        # an empty document covers nothing: 0.0, not 0/0
                        cols[nm].append(
                            _spark_round6(float(cov) / total) if total else 0.0
                        )
            out = {id_col: pdf[id_col].reset_index(drop=True)}
            for nm in frac_names:
                out[nm] = pd.Series(cols[nm], dtype="float64")
            keep = pd.Series([True] * len(pdf), dtype="bool")
            for flag, frac, cap in flag_specs:
                ok = out[frac] <= cap
                out[flag] = ok
                keep = keep & ok
            out["keep"] = keep
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} {id_t}, "
        + ", ".join(f"{nm} double" for nm in frac_names)
        + ", "
        + ", ".join(f"{flag} boolean" for flag, _, _ in flag_specs)
        + ", keep boolean"
    )
    return df.select(id_col, text_col).mapInPandas(battery, schema)


def c4_line_rules(
    df: DataFrame,
    text_col: str = "text",
    line_words: int = 10,
    min_line_words: int = 5,
    denylist: tuple[str, ...] = ("dup",),
    min_mean_word_len_x10: int = 42,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020, §2.2): filter a page
    LINE BY LINE, re-join the survivors in order, and keep the page only
    if enough lines survive — the rule family behind C4/RealNews and the
    line-granular half of most web-corpus cleaners (Gopher's document
    rules are ``gopher_quality_rules``).

    Adaptations for this corpus (no newlines or punctuation in any
    document — measured): a "line" is a fixed ``line_words``-word chunk
    (the chunk1 convention), and C4's terminal-punctuation rule is
    replaced by a mean-word-length floor stated in EXACT integer
    arithmetic (``10·Σlen(word) ≥ min_mean_word_len_x10·n_words`` — no
    float division for engines to disagree on). Per-line rules:
    ≥ ``min_line_words`` words (C4 drops lines under 5 words), no
    denylist token (C4's bad-word / "lorem ipsum" / "javascript" rule),
    and the mean-word-length floor. Page rule: keep the document iff
    ≥ ``min_kept_lines`` lines survive (C4 keeps pages with ≥ 3
    sentences). C4's cross-corpus three-sentence-span dedup is the
    separate ``duplicate_spans`` operator (d7). Exact duplicate LINES
    within a page are statistically impossible on this corpus (random
    10-word chunks over a 31-word vocab), so that rule is omitted
    rather than shipped untestable.

    Scale shape: the whole battery — chunking, per-line rules, audit
    counts, in-order reassembly — is higher-order array Column
    expressions over ONE scan: map-only, zero shuffles, no explode (the
    per-doc line list never leaves the row), so at 100 TB it runs at
    scan rate and composes with dq3/o9/pipe1. Cleaned text is returned
    both verbatim (``cleaned_text``) and as ``cleaned_md5`` so
    downstream dedup can shuffle the 32 B fingerprint instead of bodies.
    """
    w = words(F.col(text_col))
    # ceil(n/line_words) via exact double floor ((n+9)/10 < 2^53 — exact).
    n_lines = F.floor((F.size(w) + F.lit(line_words - 1)) / F.lit(line_words))
    # guard n_lines == 0: Spark's sequence(0, -1) is a DESCENDING [0, -1]
    # (not empty), which would diverge from the oracle's empty
    # generate_series. Unreachable with F.split (empty text -> [""], so
    # n_lines >= 1) but future tokenizers may return empty arrays.
    lines = F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_lines - 1),
            lambda i: F.slice(w, (i * line_words + 1).cast("int"), line_words),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    deny = F.array(*[F.lit(d) for d in denylist])

    def _sum_len(line: Column) -> Column:
        return F.aggregate(
            line, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
        )

    def _short(line: Column) -> Column:
        return F.size(line) < min_line_words

    def _denied(line: Column) -> Column:
        return F.arrays_overlap(line, deny)

    def _low_mwl(line: Column) -> Column:
        return F.lit(10) * _sum_len(line) < F.lit(min_mean_word_len_x10) * F.size(
            line
        ).cast("long")

    kept = F.filter(
        lines, lambda L: ~_short(L) & ~_denied(L) & ~_low_mwl(L)
    )
    n_kept = F.size(kept)
    cleaned = F.array_join(
        F.transform(kept, lambda L: F.array_join(L, " ")), " "
    )
    return df.select(
        "*",
        n_lines.cast("long").alias("n_lines"),
        F.size(F.filter(lines, _short)).cast("long").alias("n_short_lines"),
        F.size(F.filter(lines, _denied)).cast("long").alias("n_denylist_lines"),
        F.size(F.filter(lines, _low_mwl)).cast("long").alias("n_low_mwl_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        cleaned.alias("cleaned_text"),
        F.md5(cleaned).alias("cleaned_md5"),
        (n_kept >= min_kept_lines).alias("keep"),
    )


# Marker vocabularies for the n-gram/stopword language-ID heuristic. On real
# corpora these are the top function words per language; scoring is
# count-of-markers-present, argmax with lexicographic tie-break.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "que"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: per-language marker-word hit counts over the
    token set; prediction = argmax (ties broken by language code).

    One projection, no shuffle, no UDF — scales linearly.
    """
    w = F.array_distinct(words(F.col(text_col)))
    scores = {
        lang: F.size(
            F.array_intersect(w, F.array(*[F.lit(m) for m in markers]))
        ).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    out = df
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", s)
    # argmax with deterministic lexicographic tie-break
    pred = F.lit("en")
    best = F.col("score_en")
    for lang in sorted(scores):
        if lang == "en":
            continue
        is_better = F.col(f"score_{lang}") > best
        pred = F.when(is_better, F.lit(lang)).otherwise(pred)
        best = F.when(is_better, F.col(f"score_{lang}")).otherwise(best)
    return out.withColumn("lang_pred", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set — a
    canonical content hash robust to word order (bag-of-words identity).
    Plus a 64-bit numeric prefix for compact joins."""
    canon = F.array_join(F.array_sort(F.array_distinct(words(F.col(text_col)))), " ")
    fp = F.md5(canon)
    return df.withColumn("fingerprint", fp).withColumn(
        "fingerprint64", F.conv(F.substring(fp, 1, 15), 16, 10).cast("long")
    )


# Production PII patterns (documented defaults). The synthetic test corpus
# contains no digits/emails, so the oracle-gated query exercises the same
# code path with a token denylist instead; these patterns are what a real
# deployment would pass. Both Java regex and DuckDB/RE2 support \b and the
# classes used here, so the oracle stays engine-portable.
PII_PATTERNS: dict[str, str] = {
    # order matters: patterns apply sequentially and counts are taken on
    # the already-scrubbed text (see redact), so the more-specific ipv4
    # runs before the broad phone pattern (which also matches dotted IPs)
    "email": r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\b\+?[0-9][0-9()\-. ]{7,}[0-9]\b",
}


def redact(
    df: DataFrame,
    patterns: dict[str, str],
    text_col: str = "text",
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Pattern redaction for corpus scrubbing (PII removal class): replace
    every match of each named pattern with ``replacement`` and count the
    replacements per pattern (audit columns ``n_<name>``) plus a total.

    Patterns apply sequentially, and each pattern's count is taken on the
    text AS ALREADY SCRUBBED by the preceding patterns — so with
    overlapping patterns (e.g. the phone regex also matching an IP) the
    per-pattern counts sum to the number of replacements actually made,
    not to double-counted spans. ORACLE WARNING: any correctness oracle
    must replicate this sequential-scrub counting (count pattern i on the
    text with patterns 0..i-1 already replaced); counting every pattern
    on the ORIGINAL text only agrees when the patterns are pairwise
    disjoint on the data — true for the t7 denylist tokens, NOT true for
    PII_PATTERNS (phone overlaps ipv4).

    Map-only pure Column expressions — ``regexp_replace``/``regexp_count``
    run JVM-side inside whole-stage codegen; at 100 TB this is a scan-rate
    pass with zero shuffle, and the audit counts aggregate with a partial
    (map-side) combine if the caller sums them.
    """
    out = df
    total = F.lit(0).cast("long")
    scrubbed = F.col(text_col)
    for name, pat in patterns.items():
        n = F.regexp_count(scrubbed, F.lit(pat)).cast("long")
        out = out.withColumn(f"n_{name}", n)
        total = total + n
        scrubbed = F.regexp_replace(scrubbed, pat, replacement)
    return out.withColumn("n_redactions", total).withColumn(
        "text_redacted", scrubbed
    )


def bm25_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document top-``k`` BM25 term weights (Robertson/Sparck Jones):

        idf(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )
        w(t, d)  = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Shape for 100 TB: one token explode → (doc, term) tf aggregate (the only
    big shuffle, combiner-friendly). That tf table feeds FOUR consumers
    (scored rows, doc lengths, document frequencies, corpus scalars), and
    Catalyst does NOT reuse a shuffle across join branches — without
    materialization the tokenize+explode+aggregate runs four times
    (verified via explain). So tf is cached: at ~16 bytes + term per row it
    is roughly the size of the deduplicated corpus vocabulary per doc, far
    smaller than re-reading the text 4×; on a cluster this would be a
    checkpoint/persist to local disk. Materialized via an eager
    ``localCheckpoint`` rather than ``.cache()``: the operator cannot know
    when the caller's last action runs, and cached plans pile up in the
    CacheManager for the life of the session, while checkpoint blocks are
    reclaimed by the ContextCleaner as soon as the returned frame is
    garbage-collected. Eager-materialization tradeoffs: building the
    returned DataFrame runs the tf job immediately, and checkpoint blocks
    are not recomputed on executor loss (persist would be) — on a real
    cluster with flaky executors prefer persist(DISK_ONLY). dl/df/scalars
    are then broadcast-joined back; top-k is a per-doc window with a
    WindowGroupLimit pre-rank. Term ties break lexicographically so
    results are deterministic.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scalars = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        tf.join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "bm25",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rk").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("bm25", 6).alias("bm25"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    top_bigram_max: float = 0.18, dup_trigram_max: float = 0.30,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    the fraction of the document occupied by its most frequent word 2-gram
    and the fraction of word 3-grams that are repeats. High values mark
    boilerplate/spam for corpus filtering (``is_repetitive``).

    Shape: n-gram explode → (doc, gram) count → per-doc aggregate — two
    hash aggregations partitioned by doc id; Catalyst reuses one exchange
    for both gram widths' doc-level re-aggregation. No Python.
    """
    w = F.split(F.col(text_col), " ")

    def grams(n: int) -> Column:
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    base = df.select(F.col(id_col).alias("id"), grams(2).alias("g2"), grams(3).alias("g3"))
    b2 = (
        base.select("id", F.explode("g2").alias("g"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            (F.max("cnt") / F.sum("cnt")).alias("top_bigram_frac"),
        )
    )
    b3 = (
        base.select("id", F.explode("g3").alias("g"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            (
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
                / F.sum("cnt")
            ).alias("dup_trigram_frac"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(b2, "id", "left")
        .join(b3, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.round(F.coalesce("top_bigram_frac", F.lit(0.0)), 6).alias(
                "top_bigram_frac"
            ),
            F.round(F.coalesce("dup_trigram_frac", F.lit(0.0)), 6).alias(
                "dup_trigram_frac"
            ),
            (
                (F.coalesce("top_bigram_frac", F.lit(0.0)) > top_bigram_max)
                | (F.coalesce("dup_trigram_frac", F.lit(0.0)) > dup_trigram_max)
            ).alias("is_repetitive"),
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Full-corpus BM25 retrieval for a bag-of-terms query: rank documents
    by the sum of their BM25 weights over the query terms (same formula
    as ``bm25_top_terms``), returning the top ``k`` with deterministic
    id tie-break.

    Scale shape: the (doc, term) tf table is filtered to the query terms
    FIRST (isin on a literal list — pushed into the aggregate's input),
    so df/dl/scalars and the scoring join all run on a candidate set
    bounded by documents-containing-a-query-term, not the corpus. At
    100 TB this is the query-time path over a precomputed tf index; the
    global doc count and avgdl still come from the full corpus (one
    1-row aggregate).

    Top-k is ``orderBy(...).limit(k)`` — TakeOrderedAndProject (a
    per-partition k-row heap merged on the driver), NOT an unpartitioned
    ``row_number`` window: for a common query term the matching set is
    corpus-sized, and a global window would funnel all of it through one
    partition. Rank is then derived on the ≤k surviving rows by collapsing
    them into a single sorted array (bounded by k, no window)."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term")
    )
    tf_all = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus stats need ALL terms (document length), so compute dl before
    # restricting to the query vocabulary
    dl = tf_all.groupBy("id").agg(F.sum("tf").alias("dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf_q = tf_all.filter(F.col("term").isin(query_terms))
    dfreq = tf_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf_q.join(dl, "id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "w",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("id")
        .agg(
            F.round(F.sum("w"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
    topk = scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
    # rank over ≤k rows without a WindowExec: negated-score-first struct
    # sorts (score desc, id asc) under default struct ordering
    key = F.struct(
        (-F.col("score")).alias("neg_score"),
        F.col("id").alias("id"),
        F.col("score").alias("score"),
        F.col("n_matched").alias("n_matched"),
    )
    return (
        topk.agg(F.array_sort(F.collect_list(key)).alias("xs"))
        .select(F.posexplode("xs").alias("pos", "x"))
        .select(
            F.col("x.id").alias(id_col),
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("x.score").alias("score"),
            F.col("x.n_matched").alias("n_matched"),
        )
    )


# --- BPE merge-table application -------------------------------------------

# GPT-2-style pretokenizer classes, simplified to the engine-portable
# subset (letters / digits / other-symbol runs; Java regex, Python ``re``
# and DuckDB/RE2 read this pattern identically). The BPE encoder and
# trainer split text on it, and the t10/t14b/t15/t16 oracles import it.
PRETOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

# Default merge table for the synthetic corpus (31 lowercase words): ranks
# chosen so common words tokenize through MULTI-LEVEL merge chains
# (t-a → ta-b → tab-l → tabl-e → "table") and so global-min-rank selection
# is exercised (in "join", rank-18 j-o fires before rank-19 i-n even though
# i-n appears later in the table's build chain for jo-in).
DEFAULT_BPE_MERGES: list[tuple[str, str]] = [
    ("a", "n"), ("e", "r"), ("t", "a"), ("ta", "b"), ("tab", "l"),
    ("tabl", "e"), ("q", "u"), ("qu", "er"), ("quer", "y"), ("g", "g"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("o", "w"), ("r", "ow"),
    ("s", "t"), ("c", "an"), ("s", "can"), ("j", "o"), ("i", "n"),
    ("jo", "in"),
]


def _require_unique_merge_outputs(merges: list[tuple[str, str]]) -> None:
    """Reject merge tables where two merges share an output string. The
    ``_bpe_sql`` oracle replays encoding as ``len(merges)`` rank-ordered
    replace rounds, and that fixed-round convergence argument needs unique
    outputs: a later merge could recreate a symbol next to an
    already-retired pair and silently under-merge. ``bpe_encode`` accepts
    only the tables on which it and its oracle provably agree."""
    outs = [left + right for left, right in merges]
    if len(set(outs)) != len(outs):
        raise ValueError(
            "bpe_encode requires unique merge outputs; duplicate outputs: "
            f"{sorted({o for o in outs if outs.count(o) > 1})}"
        )


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Token-id vocabulary induced by a merge table: ids 0-25 for a-z,
    then one id per merge output in rank order. Unknown symbols map to -1
    at encode time."""
    vocab = {chr(ord("a") + i): i for i in range(26)}
    for left, right in merges:
        sym = left + right
        if sym not in vocab:
            vocab[sym] = len(vocab)
    return vocab


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Greedy BPE merge-table application (GPT-2 ``bpe()`` semantics): per
    pretoken, repeatedly merge ALL left-to-right non-overlapping
    occurrences of the lowest-ranked adjacent symbol pair present, until
    no table pair remains; emit the doc's token-id sequence.

    Output: (doc_id, n_tokens, token_str) — token_str is the space-joined
    id sequence, so the t14b oracle hash-checks the exact tokenization,
    and a hand-derived golden fixture pins it against paper-computed ids
    (tests/test_operators.py::test_bpe_golden_fixture_hand_derived).

    Plan shape: map-only — one Arrow-batched ``mapInPandas`` with the rank
    table in the closure, zero Exchange, and no plan growth with the merge
    table (a real GPT-2 table is 50k merges); the per-word LRU cache makes
    the Zipf head free, exactly like GPT-2's encoder cache.

    ``passthrough_cols`` copies the named input columns onto the output
    rows inside the same Arrow batch (zero compute, zero shuffle) — the
    "carry the shard key through the encoder" move that lets callers drop
    a corpus-sized join-back to the source table (r12: pipe2's doc-level
    source join removed this way).
    """
    import re
    from functools import lru_cache

    import pandas as pd

    if merges is None:
        merges = DEFAULT_BPE_MERGES
    _require_unique_merge_outputs(merges)
    ranks = {pair: r for r, pair in enumerate(merges)}
    vocab = bpe_vocab(merges)
    id_field = df.schema[id_col]
    extra = list(passthrough_cols or [])

    def encode_batches(batches):
        rx = re.compile(PRETOKEN_PATTERN)

        @lru_cache(maxsize=65536)
        def word_ids(word: str) -> tuple[int, ...]:
            syms = list(word)
            while len(syms) > 1:
                best, best_rank = None, None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = (syms[i], syms[i + 1]), r
                if best is None:
                    break
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return tuple(vocab.get(s, -1) for s in syms)

        for pdf in batches:
            ids = [
                [t for w in rx.findall(text or "") for t in word_ids(w)]
                for text in pdf[text_col]
            ]
            out = {
                "doc_id": pdf[id_col],
                "n_tokens": [len(x) for x in ids],
                "token_str": [" ".join(map(str, x)) for x in ids],
            }
            for c in extra:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"doc_id {id_field.dataType.simpleString()}, n_tokens long, token_str string"
    for c in extra:
        schema += f", {c} {df.schema[c].dataType.simpleString()}"
    return df.select(id_col, text_col, *extra).mapInPandas(
        encode_batches, schema=schema
    )


def bpe_decode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    ids_col: str = "token_str",
    id_col: str = "doc_id",
    unknown: str = "?",
) -> DataFrame:
    """Detokenize: invert ``bpe_encode`` — map each token id back to its
    vocabulary symbol and concatenate. The pipeline's inspect/debug
    surface (sampling decoded training sequences is how a real corpus
    pipeline is audited). Unknown ids (-1 from out-of-vocab symbols at
    encode time, one per unknown CHARACTER) decode to ``unknown``, the
    standard lossy-detokenize convention.

    Exactness contract: on the known-vocab subset decode∘encode is the
    identity on the pretoken concatenation; with unknowns it equals the
    concatenation with every out-of-vocab character replaced by
    ``unknown`` (encode wraps each character as one symbol, merges only
    ever fire on in-vocab pairs). t16 pins this roundtrip under a DuckDB
    hash oracle. Map-only Column expressions — the id→symbol table is a
    plan-literal map; ``try_element_at``/``try_cast`` keep it ANSI-safe.
    """
    merges = DEFAULT_BPE_MERGES if merges is None else merges
    inv = {tid: sym for sym, tid in bpe_vocab(merges).items()}
    mapping = F.create_map(*[F.lit(v) for pair in inv.items() for v in pair])
    # drop empty fragments: split("", " ") yields [""], which would decode
    # an EMPTY document (whitespace-only → token_str "") to one spurious
    # ``unknown`` instead of "" (caught by the hypothesis roundtrip
    # property; valid space-joined id strings never contain empty tokens)
    ids = F.filter(F.split(F.col(ids_col), " "), lambda s: s != "")
    return df.select(
        F.col(id_col),
        F.array_join(
            F.transform(
                ids,
                lambda s: F.coalesce(
                    F.try_element_at(mapping, s.try_cast("int")), F.lit(unknown)
                ),
            ),
            "",
        ).alias("decoded"),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table from a corpus (the training counterpart of
    ``bpe_encode``; Sennrich et al. 2016): repeat ``n_merges`` times —
    count all adjacent symbol pairs across every pretoken OCCURRENCE
    (frequency-weighted), take the most frequent (ties broken by
    (left, right) lexicographically, so the table is deterministic in any
    engine), merge it left-to-right non-overlapping, recurse; stop early
    once no pair is left. Returns ``[(left, right, pair_count), ...]`` in
    rank order.

    Plan shape: ONE distributed aggregation — explode + groupBy(pretoken),
    the word-count cost class — then every merge rank is trained
    driver-side on that ``(pretoken, occurrence_count)`` table, as real
    trainers (Sennrich's learn_bpe, the Hugging Face trainer,
    SentencePiece's BPE mode) operate. Pair statistics are a pure function
    of the table, which is bounded by WORD VOCABULARY, not corpus size
    (Heaps' law: ~10⁶-10⁷ rows for a 100 TB web corpus vs 10¹³ tokens), so
    the Spark job count does not grow with ``n_merges`` (pinned in
    tests/test_plan_shapes.py). Per rank the driver does the fastBPE-style
    incremental update: merging (l, r) only perturbs counts of pairs
    adjacent to an (l, r) occurrence, so a rank costs O(affected words).

    The t15 oracle replays the per-rank full recount in DuckDB; Python and
    Spark/DuckDB string comparison agree on the tie-break because UTF-8
    byte order equals code-point order.
    """
    pretoks = F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), F.lit(0))
    vocab_rows = (
        df.select(F.explode(pretoks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return _bpe_train_from_vocab(
        {r["w"]: int(r["n"]) for r in vocab_rows}, n_merges
    )


def _bpe_train_from_vocab(
    vocab: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """The driver-side rank loop of ``bpe_train`` over a
    ``{pretoken: occurrence_count}`` table — factored out so hypothesis
    can property-test the incremental pair bookkeeping against a naive
    full-recount reference without a SparkSession."""
    from collections import defaultdict

    # driver state: word (as symbol tuple) -> occurrence count. Distinct
    # pretokens stay distinct under merging (a merge preserves the
    # concatenated string), so tuples never collide.
    words: dict[tuple[str, ...], int] = {
        tuple(w): int(n) for w, n in vocab.items() if w
    }
    pair_n: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set] = defaultdict(set)
    for wt, c in words.items():
        for p in zip(wt, wt[1:]):
            pair_n[p] += c
            pair_words[p].add(wt)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        live = [(p, n) for p, n in pair_n.items() if n > 0]
        if not live:
            break
        (l, r), n = min(live, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((l, r, int(n)))
        new_sym = l + r
        for wt in list(pair_words.get((l, r), ())):
            c = words.pop(wt, None)
            if c is None:  # stale index entry from an earlier rank
                continue
            for p in zip(wt, wt[1:]):
                pair_n[p] -= c
            out: list[str] = []
            i = 0
            while i < len(wt):  # left-to-right non-overlapping, like replace()
                if i + 1 < len(wt) and wt[i] == l and wt[i + 1] == r:
                    out.append(new_sym)
                    i += 2
                else:
                    out.append(wt[i])
                    i += 1
            nt = tuple(out)
            words[nt] = words.get(nt, 0) + c
            for p in zip(nt, nt[1:]):
                pair_n[p] += c
                pair_words[p].add(nt)
        pair_n.pop((l, r), None)
        pair_words.pop((l, r), None)
    return merges


# --- Misra-Gries heavy-hitter candidates (mergeable summaries) ---------------

def _mg_merge(summary: dict, counts, k: int) -> dict:
    """Merge a batch's exact value counts into a Misra-Gries summary of
    capacity ``k`` (Agarwal et al. 2013, "Mergeable Summaries": add the
    two summaries, subtract the (k+1)-th largest resulting count, drop
    non-positives). Preserves the MG guarantee: any item with true count
    > N/(k+1) over everything merged so far survives with
    ``summary count >= true count − N/(k+1)``.

    The loop is per DISTINCT word in the batch (value_counts is the
    vectorized part), not per token — bounded by batch vocabulary."""
    for w, c in counts.items():
        summary[w] = summary.get(w, 0) + int(c)
    if len(summary) > k:
        t = sorted(summary.values(), reverse=True)[k]  # (k+1)-th largest
        summary = {w: c - t for w, c in summary.items() if c > t}
    return summary


def mg_heavy_hitters(
    df: DataFrame, col: str = "word", phi: float = 0.02, k: int = 64
) -> DataFrame:
    """φ-heavy hitters over an unbounded-vocabulary token stream via
    per-partition Misra-Gries summaries + exact verification — the
    candidate-generation path ``sk3``'s CMS defers to.

    Correctness does NOT depend on partitioning or MG internals. With
    ``k ≥ 1/φ``: if an item kept count ≤ N_p/(k+1) in EVERY partition its
    global count is ≤ N/(k+1) < φN, so every φ-heavy item exceeds the MG
    retention floor in at least one partition and appears in that
    partition's summary. The candidate union (≤ partitions·k rows) is
    therefore a SUPERSET of the φ-heavy set; pass 2 counts candidates
    EXACTLY and filters ≥ φN — output = exactly the φ-heavy items, a
    deterministic, partition-independent (and SQL-expressible) answer.

    100 TB shape: pass 1 is mapInPandas with O(k) driver-free state per
    partition (summaries merge by the same rule across any sharding);
    the exact pass shuffles only rows matching the ≤ P·k broadcast
    candidate set; the stream length is one map-only count.

    Nulls are excluded from the STREAM itself (not just the output):
    pandas ``value_counts`` drops NaN and the equi-join drops null keys,
    so a null "item" could never be reported anyway — filtering up front
    keeps candidates, exact counts, and the total n over the same stream
    (otherwise shares use a null-inflated denominator; r8 ADVICE)."""
    import pandas as pd

    if k < 1.0 / phi:
        raise ValueError(f"k={k} must be >= 1/phi={1.0 / phi:.0f} for the "
                         "superset guarantee")
    toks = df.select(F.col(col).alias("word")).filter(F.col("word").isNotNull())

    def mg_partition(batches):
        summary: dict = {}
        for pdf in batches:
            summary = _mg_merge(summary, pdf["word"].value_counts(), k)
        yield pd.DataFrame(
            {"word": list(summary), "mg_count": list(summary.values())}
        )

    candidates = (
        toks.mapInPandas(mg_partition, "word string, mg_count long")
        .select("word")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") >= F.lit(phi) * F.col("n"))
        .select(
            "word",
            "exact_n",
            F.round(F.col("exact_n") / F.col("n"), 6).alias("share"),
        )
    )


UNIGRAM_FALLBACK_COST = 1500  # centi-nats for any single char outside the vocab


def _spark_round6(x: float) -> float:
    """Replicate Spark's ``F.round(double, 6)`` exactly: Java
    ``BigDecimal(double).setScale(6, HALF_UP)`` rounds the EXACT decimal
    expansion of the binary double half-up — Python's ``round()`` is
    banker's and would diverge on .5 boundaries. ``Decimal(float)`` is
    that same exact expansion."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WordPiece-style GREEDY longest-match subword encoding with a pinned
    vocabulary (Wu et al. 2016 / BERT's tokenizer family — the other
    production tokenizer class next to BPE; HuggingFace WordPiece uses the
    same longest-match-first walk). Per word, repeatedly take the LONGEST
    vocab piece matching at the cursor, falling back to the single
    character when nothing matches — so segmentation is total and
    LOSSLESS (concat of pieces == word; no [UNK] information loss).

    Returns per document: (id, n_words, n_pieces, fertility = pieces/word
    rounded 6dp, pieces_digest = md5 of the full in-order piece sequence,
    space-joined) — the digest pins the SEGMENTATION itself under the hash
    oracle, not just its statistics. Wordless documents (empty or
    all-space text) produce no row. Fertility replicates Spark's HALF_UP
    ``round(x, 6)`` via exact-decimal quantization.

    Scale shape (the t14b precedent, ``bpe_encode``):
    Arrow-batched ``mapInPandas`` with the vocabulary broadcast once in
    the closure. The pieces live in per-LENGTH hash sets, so the greedy
    probe is O(word_len x n_distinct_lengths) hash lookups per word —
    vocabulary size is out of the cost, and a per-word LRU cache makes
    the Zipf head free. Map-only: one python runner stage, ZERO Exchange;
    per-doc outputs are complete within the batch, so nothing shuffles at
    any corpus size.
    """
    import hashlib
    from functools import lru_cache

    import pandas as pd

    by_len: dict[int, set[str]] = {}
    for p in set(vocab):
        by_len.setdefault(len(p), set()).add(p)
    lengths = sorted(by_len, reverse=True)
    id_field = df.schema[id_col]

    def encode_batches(batches):
        @lru_cache(maxsize=65536)
        def pieces_of(word: str) -> tuple[str, ...]:
            out, i, n = [], 0, len(word)
            while i < n:
                rem = n - i
                for ln in lengths:
                    if ln <= rem and word[i : i + ln] in by_len[ln]:
                        out.append(word[i : i + ln])
                        i += ln
                        break
                else:
                    out.append(word[i])  # single-char fallback
                    i += 1
            return tuple(out)

        for pdf in batches:
            ids, nw, npc, fert, dig = [], [], [], [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in (txt or "").split(" ") if w]
                if not ws:
                    continue  # wordless docs produce no row
                segs = [pieces_of(w) for w in ws]
                n_pieces = sum(len(s) for s in segs)
                ids.append(doc_id)
                nw.append(len(ws))
                npc.append(n_pieces)
                fert.append(_spark_round6(n_pieces / len(ws)))
                flat = " ".join(p for s in segs for p in s)
                dig.append(hashlib.md5(flat.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "n_words": pd.Series(nw, dtype="int64"),
                    "n_pieces": pd.Series(npc, dtype="int64"),
                    "fertility": pd.Series(fert, dtype="float64"),
                    "pieces_digest": pd.Series(dig, dtype=object),
                }
            )

    schema = (
        f"{id_col} {id_field.dataType.simpleString()}, n_words long, "
        "n_pieces long, fertility double, pieces_digest string"
    )
    return df.select(id_col, text_col).mapInPandas(encode_batches, schema=schema)


def unigram_encode(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM subword encoding with a pinned vocabulary — the
    SentencePiece family (Kudo 2018): per word, the segmentation that
    MINIMIZES the summed piece costs, found by Viterbi dynamic
    programming (vs ``wordpiece_encode``'s greedy longest-match — the
    two genuinely differ: a cheap 2-piece split beats an expensive
    whole-word piece, which the pytest pins). Costs are INTEGER
    centi-nats (integer-quantized scores make the DP exact,
    deterministic, and engine-portable — no float comparison ever
    happens), with every out-of-vocab single character available at
    ``UNIGRAM_FALLBACK_COST`` so segmentation is total and lossless.
    Tie-break at equal cost: longer piece, then lexicographic.

    Returns per document: (id, n_words, n_pieces, fertility,
    total_cost = Σ word Viterbi costs — an exact BIGINT, so the oracle
    compares the OPTIMUM ITSELF, pieces_digest = md5 of the in-order
    piece sequence, pinning the argmin segmentation too). Wordless
    documents produce no row.

    Scale shape: the same Arrow ``mapInPandas`` broadcast-vocab shape as
    ``wordpiece_encode`` — a dict probe per (position, length), so
    O(word_len x max_piece_len) per distinct word with vocabulary size
    out of the cost; map-only, zero Exchange, per-word LRU cache.
    """
    import hashlib
    from functools import lru_cache

    import pandas as pd

    costs: dict[str, int] = {}
    for p, c in set((p, int(c)) for p, c in vocab):
        # duplicate pieces with different costs: keep the cheaper
        if p not in costs or c < costs[p]:
            costs[p] = c
    maxp = max(len(p) for p in costs) + 2
    fb = int(UNIGRAM_FALLBACK_COST)
    id_field = df.schema[id_col]

    def encode_batches(batches):
        @lru_cache(maxsize=65536)
        def viterbi(word: str) -> tuple[int, tuple[str, ...]]:
            n = len(word)
            best = [0] + [0] * n  # best[i] = min cost of word[:i]
            back: list[tuple[int, str]] = [(0, "")] * (n + 1)
            for i in range(1, n + 1):
                # fallback candidate first; vocab pieces ending at i
                ch = word[i - 1]
                win = (best[i - 1] + fb, maxp - 1, ch, 1)
                for ln in range(1, min(maxp - 2, i) + 1):
                    piece = word[i - ln : i]
                    c = costs.get(piece)
                    if c is None:
                        continue
                    cand = (best[i - ln] + c, maxp - ln, piece, ln)
                    if cand[:3] < win[:3]:
                        win = cand
                best[i] = win[0]
                back[i] = (win[3], win[2])
            ps: list[str] = []
            i = n
            while i > 0:
                ln, piece = back[i]
                ps.append(piece)
                i -= ln
            ps.reverse()
            return best[n], tuple(ps)

        for pdf in batches:
            ids, nw, npc, fert, tc, dig = [], [], [], [], [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in (txt or "").split(" ") if w]
                if not ws:
                    continue
                segs = [viterbi(w) for w in ws]
                n_pieces = sum(len(s) for _, s in segs)
                ids.append(doc_id)
                nw.append(len(ws))
                npc.append(n_pieces)
                fert.append(_spark_round6(n_pieces / len(ws)))
                tc.append(sum(c for c, _ in segs))
                flat = " ".join(p for _, s in segs for p in s)
                dig.append(hashlib.md5(flat.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "n_words": pd.Series(nw, dtype="int64"),
                    "n_pieces": pd.Series(npc, dtype="int64"),
                    "fertility": pd.Series(fert, dtype="float64"),
                    "total_cost": pd.Series(tc, dtype="int64"),
                    "pieces_digest": pd.Series(dig, dtype=object),
                }
            )

    schema = (
        f"{id_col} {id_field.dataType.simpleString()}, n_words long, "
        "n_pieces long, fertility double, total_cost long, pieces_digest string"
    )
    return df.select(id_col, text_col).mapInPandas(encode_batches, schema=schema)
