"""Property-based tests (hypothesis) for dedup/behavioral operators.

Random corpora are drawn from a tiny vocabulary so collisions and
near-dups actually occur; examples are capped low because every example
runs real Spark jobs.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from consumer_loans_analysis_spark.operators import behavioral, dedup

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=docs_strategy)
@settings(**_SETTINGS)
def test_minhash_equals_exact_jaccard(spark, texts):
    """LSH candidates + exact verification must reproduce the exact
    inverted-index pair set (false-negative probability at threshold 0.5
    with 64 hashes / 2 rows-per-band is ~1e-10 per pair)."""
    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_near_dupes(df, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.minhash_near_dupes(df, threshold=0.5).collect()
    }
    assert lsh == exact


@given(texts=docs_strategy)
@settings(**_SETTINGS)
def test_simhash_blocking_equals_bruteforce(spark, texts):
    """Pigeonhole blocking must find EXACTLY the brute-force Hamming pairs
    (no false negatives by construction, verification kills positives)."""
    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    sigs = {
        r["id"]: r["simhash"]
        for r in dedup.simhash_signatures(df).collect()
    }
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dupes(df, max_hamming=3).collect()
    }
    assert got == brute


@given(texts=docs_strategy)
@settings(**_SETTINGS)
def test_duplicate_spans_invariants(spark, texts):
    """0 <= n_dup_spans <= n_spans; short docs report 0 spans; a doc's
    duplicated spans are non-zero iff another doc shares a full span."""
    n = 4
    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    rows = dedup.duplicate_spans(df, span_words=n).collect()
    assert len(rows) == len(texts)
    spans_by_doc = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        spans_by_doc[i] = {
            " ".join(w[j : j + n]) for j in range(len(w) - n + 1)
        } if len(w) >= n else set()
    for r in rows:
        mine = spans_by_doc[r["doc_id"]]
        others = set().union(
            *(s for d, s in spans_by_doc.items() if d != r["doc_id"])
        ) if len(texts) > 1 else set()
        assert r["n_spans"] == len(mine)
        assert r["n_dup_spans"] == len(mine & others)


@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=6 * 3600), min_size=1, max_size=20
    )
)
@settings(**_SETTINGS)
def test_sessionize_conservation(spark, offsets):
    """Sessionization conserves events, produces contiguous session ids
    from 1, and non-negative durations."""
    base = datetime(2024, 1, 1)
    rows = [
        (i, 1, base + timedelta(seconds=off), "view")
        for i, off in enumerate(sorted(set(offsets)))
    ]
    df = spark.createDataFrame(
        rows, schema="event_id long, user_id long, ts timestamp, event_type string"
    )
    out = behavioral.sessionize(df, gap_seconds=1800).collect()
    assert sum(r["n_events"] for r in out) == len(rows)
    ids = sorted(r["session_id"] for r in out)
    assert ids == list(range(1, len(ids) + 1))
    assert all(r["duration_sec"] >= 0 for r in out)


@given(
    pre_a=st.text(alphabet="xyz ", max_size=20),
    post_a=st.text(alphabet="xyz ", max_size=20),
    pre_b=st.text(alphabet="uvw ", max_size=20),
    post_b=st.text(alphabet="uvw ", max_size=20),
    # min 7 keeps both docs past t11's length(text) >= 7 scan filter even
    # with empty pre/post; the >= 6 guarantee is subsumed
    shared=st.text(alphabet="abcdefg", min_size=7, max_size=15),
)
@settings(**_SETTINGS)
def test_winnowing_guarantee(spark, pre_a, post_a, pre_b, post_b, shared):
    """The winnowing theorem (Schleimer et al. '03): with gram size k=4 and
    window w=3, any two documents sharing a substring of length >=
    w + k - 1 = 6 chars share at least one selected fingerprint. Two
    otherwise-unrelated documents (disjoint alphabets) around a common
    chunk must therefore intersect in fingerprint space."""
    from consumer_loans_analysis_spark.plans import datapipe_queries  # noqa: F401
    from consumer_loans_analysis_spark.plans.registry import QUERIES
    import tempfile

    doc_a = pre_a + shared + post_a
    doc_b = pre_b + shared + post_b
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, doc_a, "en", "s", len(doc_a)), (1, doc_b, "en", "s", len(doc_b))],
            schema="doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = {
            r["doc_id"]: r
            for r in QUERIES["t11_winnow_fingerprints"](spark, d).collect()
        }
    # recompute the fingerprint SETS locally to check intersection (the
    # query exposes a set digest; equal digests would only catch identity)
    import hashlib

    def fps(text):
        k, w = 4, 3
        hs = [
            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(text) - k + 1)
        ]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    assert fps(doc_a) & fps(doc_b), (doc_a, doc_b)
    # and the Spark-side counts agree with the local reference
    assert rows[0]["n_fingerprints"] == len(fps(doc_a))
    assert rows[1]["n_fingerprints"] == len(fps(doc_b))


def test_bloom_incremental_dedupe_equals_exact_anti_join(spark):
    """bloom_incremental_dedupe's contract: output identical to the plain
    anti-join (Bloom negatives are guaranteed non-members, positives are
    exactly verified) — checked on a corpus with planted dups, both
    well-sized and deliberately UNDERSIZED (high-fpp) filters; and no
    false negatives: every true member must flag maybe=true."""
    from pyspark.sql import functions as F

    from consumer_loans_analysis_spark.operators.dedup import (
        bloom_build,
        bloom_incremental_dedupe,
    )

    corpus = spark.range(500).select(
        F.md5(F.concat(F.lit("doc-"), F.col("id").cast("string"))).alias("fp")
    )
    # batch: 100 dups of corpus docs (ids 0..99) + 150 new (ids 1000..1149)
    batch = (
        spark.range(100)
        .select(F.col("id").alias("bid"))
        .unionByName(spark.range(1000, 1150).select(F.col("id").alias("bid")))
        .select(
            "bid",
            F.md5(F.concat(F.lit("doc-"), F.col("bid").cast("string"))).alias("fp"),
        )
    )
    want = sorted(
        r["bid"] for r in batch.join(corpus, "fp", "left_anti").collect()
    )
    assert want == list(range(1000, 1150))
    for expected, fpp in [(500, 0.01), (8, 0.5)]:  # well-sized and starved
        got = sorted(
            r["bid"]
            for r in bloom_incremental_dedupe(
                batch, corpus, expected_items=expected, fpp=fpp
            ).collect()
        )
        assert got == want, (expected, fpp)

    # no-false-negative property of the build itself: every corpus member
    # probes positive in the bitmap
    import numpy as np

    m_bits, n_hashes, words = bloom_build(corpus, expected_items=500, fpp=0.01)
    probe = corpus.select(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(m_bits))
                for i in range(n_hashes)
            ]
        ).alias("pos")
    ).collect()
    for r in probe:
        P = np.asarray(r["pos"], dtype=np.int64)
        hits = (words[P >> 6] & (np.uint64(1) << (P.astype(np.uint64) & np.uint64(63)))) != 0
        assert hits.all()


bpe_text_strategy = st.lists(
    st.text(alphabet="table quryscnjoin09#Z ", min_size=0, max_size=40),
    min_size=1,
    max_size=6,
)


@given(texts=bpe_text_strategy)
@settings(**_SETTINGS)
def test_bpe_roundtrip_property(spark, texts):
    """For ARBITRARY text (in-vocab letters, digits, symbols, uppercase,
    whitespace-only and empty docs): decode∘encode equals the pretoken
    concatenation with every out-of-vocab character replaced by '?' — the
    documented exactness contract, beyond t16's fixed-corpus oracle.
    Found the empty-document decode bug (split("", " ") → [""] → spurious
    '?') that corpus data could never reach."""
    from consumer_loans_analysis_spark.operators import text as text_ops

    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    enc = text_ops.bpe_encode(df)
    decoded = {r["doc_id"]: r["decoded"] for r in text_ops.bpe_decode(enc).collect()}
    for i, t in enumerate(texts):
        expected = "".join(
            c if "a" <= c <= "z" else "?" for c in t if not c.isspace()
        )
        assert decoded[i] == expected, (t, decoded[i], expected)


@given(texts=docs_strategy)
@settings(**_SETTINGS)
def test_c4_line_rules_invariants(spark, texts):
    """dq5 invariants on arbitrary small corpora: audit counts are
    consistent (kept + at-least-one-rule-failed = total, where a line can
    fail several rules), the cleaned text is exactly the in-order
    concatenation of surviving chunks recomputed in Python, and the md5
    matches the cleaned text."""
    import hashlib

    from consumer_loans_analysis_spark.operators.text import c4_line_rules

    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    rows = c4_line_rules(df).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for i, t in enumerate(texts):
        w = t.split(" ")
        chunks = [w[j : j + 10] for j in range(0, len(w), 10)]
        kept = [
            c
            for c in chunks
            if len(c) >= 5
            and "dup" not in c
            and 10 * sum(len(x) for x in c) >= 42 * len(c)
        ]
        r = by_id[i]
        assert r["n_lines"] == len(chunks)
        assert r["n_kept_lines"] == len(kept)
        assert r["cleaned_text"] == " ".join(" ".join(c) for c in kept)
        assert (
            r["cleaned_md5"]
            == hashlib.md5(r["cleaned_text"].encode()).hexdigest()
        )
        assert r["keep"] == (len(kept) >= 3)
        # every failing line fails at least one audited rule
        n_failed = len(chunks) - len(kept)
        assert (
            r["n_short_lines"] + r["n_denylist_lines"] + r["n_low_mwl_lines"]
            >= n_failed
        )


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=64,
            max_size=64,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(**_SETTINGS)
def test_int4_block_quantization_properties(spark, vecs):
    """sq2 properties on arbitrary float vectors: per-coordinate
    reconstruction error is bounded by half a code step (amax/14), codes
    never exceed the block absmax, and re-quantizing a reconstruction is
    the identity (grid points are fixed points)."""
    import math

    from hypothesis import assume

    from consumer_loans_analysis_spark.operators.similarity import (
        quantize_int4_block,
        recon_int4_block,
    )
    from pyspark.sql import functions as F

    # blocks that are all-zero make scale 0/amax undefined; the operator's
    # contract (like sq1's) is nonzero blocks — assume them away
    for v in vecs:
        for b in range(4):
            assume(max(abs(float(x)) for x in v[b * 16 : b * 16 + 16]) > 1e-6)
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, v array<float>"
    )
    staged = df.select(
        "vec_id", "v", quantize_int4_block(F.col("v"), dim=64).alias("amax")
    )
    rows = staged.select(
        "vec_id", "v", "amax",
        recon_int4_block(F.col("v"), F.col("amax"), dim=64).alias("rv"),
    ).collect()
    for r in rows:
        v = [float(x) for x in r["v"]]
        for i, (x, rec) in enumerate(zip(v, r["rv"])):
            amax = r["amax"][i // 16]
            assert abs(rec) <= amax + 1e-12
            assert abs(x - rec) <= amax / 14 + 1e-9, (i, x, rec, amax)
            # fixed point: the reconstruction is on the code grid
            if amax > 0:
                again = math.floor(rec * (7.0 / amax) + 0.5) * (amax / 7.0)
                assert again == rec, (i, rec, again)


# --- bpe_train's incremental pair bookkeeping ------------------------------

word_strategy = st.text(alphabet="abc", min_size=1, max_size=8)
vocab_strategy = st.dictionaries(
    word_strategy, st.integers(min_value=1, max_value=5),
    min_size=1, max_size=12,
)


def _naive_bpe_from_vocab(vocab, n_merges):
    """Full-recount reference for ``_bpe_train_from_vocab``: recompute
    every pair count from scratch each rank (the t15 semantics), same
    (count desc, l, r) tie-break, same left-to-right merge."""
    words = {}
    for w, n in vocab.items():
        if w:
            words[tuple(w)] = words.get(tuple(w), 0) + n
    merges = []
    for _ in range(n_merges):
        counts = {}
        for wt, c in words.items():
            for p in zip(wt, wt[1:]):
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (l, r), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, int(n)))
        new = {}
        for wt, c in words.items():
            out, i = [], 0
            while i < len(wt):
                if i + 1 < len(wt) and wt[i] == l and wt[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(wt[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + c
        words = new
    return merges


@given(vocab=vocab_strategy)
@settings(max_examples=300, deadline=None)
def test_bpe_incremental_bookkeeping_equals_full_recount(vocab):
    """Property: the fastBPE-style incremental pair updates in
    ``_bpe_train_from_vocab`` produce the IDENTICAL merge table (ranks,
    pairs, counts, stopping rank) to a naive full recount, to exhaustion,
    on adversarial tiny-alphabet vocabularies (ab/abc maximize overlap
    cases: 'aaa' runs, merges creating new adjacencies, ties)."""
    from consumer_loans_analysis_spark.operators.text import (
        _bpe_train_from_vocab,
    )

    assert _bpe_train_from_vocab(vocab, 100) == _naive_bpe_from_vocab(
        vocab, 100
    )
