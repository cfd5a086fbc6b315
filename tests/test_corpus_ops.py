"""Unit tests for corpus-assembly operators: sequence packing, stratified
sampling, repetition quality, duplicate clustering, prefix filtering.

Driver-level oracle checks (queries_text.py SQL vs Spark) cover the
testdata; these pin the semantic invariants on hand-built inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gensor_spark.operators import dedup as D
from gensor_spark.operators.packing import chunk_stats, pack_chunks, with_global_offset
from gensor_spark.operators.quality import repetition_stats
from gensor_spark.operators.sampling import DENOM, stratified_sample


# --------------------------------------------------------------------------
# packing
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def lengths(spark):
    # ids deliberately unsorted & sparse; lengths straddle the seq_len=10
    # boundary in every way: exact fill, multi-chunk spans, 1-token docs
    rows = [(7, 3), (1, 10), (4, 25), (9, 1), (2, 0), (12, 8), (30, 13)]
    return spark.createDataFrame(rows, "doc_id long, n_tok long")


def test_global_offset_matches_serial_cumsum(lengths):
    got = {
        r.doc_id: r.offset
        for r in with_global_offset(lengths, "n_tok", "doc_id",
                                    n_buckets=3).collect()
    }
    rows = sorted([(7, 3), (1, 10), (4, 25), (9, 1), (2, 0), (12, 8), (30, 13)])
    acc, want = 0, {}
    for did, n in rows:
        want[did] = acc
        acc += n
    assert got == want


def test_pack_chunks_spans_and_fill(lengths):
    packed = pack_chunks(lengths, seq_len=10, n_buckets=3)
    rows = {(r.doc_id, r.chunk_id): (r.tok_start, r.n_in_chunk)
            for r in packed.collect()}
    # doc 1 (offset 0, len 10) fills chunk 0 exactly
    assert rows[(1, 0)] == (0, 10)
    # doc 4 (offset 10, len 25) spans chunks 1,2,3: 10+10+5 tokens
    assert rows[(4, 1)] == (0, 10)
    assert rows[(4, 2)] == (10, 10)
    assert rows[(4, 3)] == (20, 5)
    # doc 2 (len 0) is dropped
    assert not any(d == 2 for d, _ in rows)
    # every doc's chunk pieces cover its full length contiguously
    per_doc = {}
    for (d, _c), (_s, n) in rows.items():
        per_doc[d] = per_doc.get(d, 0) + n
    assert per_doc == {7: 3, 1: 10, 4: 25, 9: 1, 12: 8, 30: 13}


def test_chunk_stats_invariant(lengths):
    packed = pack_chunks(lengths, seq_len=10, n_buckets=2)
    stats = {r.chunk_id: r.fill for r in chunk_stats(packed).collect()}
    total = 3 + 10 + 25 + 1 + 8 + 13
    last = max(stats)
    for cid, fill in stats.items():
        assert fill == (10 if cid != last else total - 10 * last)
    assert sum(stats.values()) == total


def test_global_offset_with_extra_columns_and_string_keys(spark):
    """Regression: the bucket index must be a pure driver-literal expression.
    A physical-partitioning bucket (repartitionByRange + spark_partition_id)
    is re-sampled independently per plan branch, and keeping ANY extra
    column breaks exchange reuse — offsets silently corrupt (observed
    150k/200k wrong). Also covers non-numeric order keys."""
    import random

    rng = random.Random(11)
    rows = [(f"d{i:05d}", rng.randint(0, 50), f"x{i}") for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "doc_id string, n_tok long, extra string")
    out = with_global_offset(df, "n_tok", "doc_id", n_buckets=8)
    got = {r.doc_id: r.offset for r in out.select("doc_id", "offset", "extra").collect()}
    acc, want = 0, {}
    for did, n, _ in sorted(rows):
        want[did] = acc
        acc += n
    assert got == want


def test_pack_chunks_bucket_count_irrelevant(lengths):
    a = sorted(map(tuple, pack_chunks(lengths, 10, n_buckets=1).collect()))
    b = sorted(map(tuple, pack_chunks(lengths, 10, n_buckets=5).collect()))
    assert a == b


def test_pack_chunks_properties(spark):
    """Property check over random length multisets: every doc fully
    covered in contiguous spans, every chunk exactly seq_len except the
    last, chunk ids dense from 0."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        lens=st.lists(st.integers(min_value=0, max_value=50),
                      min_size=1, max_size=40),
        L=st.integers(min_value=1, max_value=17),
    )
    def check(lens, L):
        rows = [(i, n) for i, n in enumerate(lens)]
        df = spark.createDataFrame(rows, "doc_id long, n_tok long")
        got = pack_chunks(df, seq_len=L, n_buckets=3).collect()
        per_doc, per_chunk = {}, {}
        for r in got:
            per_doc.setdefault(r.doc_id, []).append(
                (r.chunk_id, r.tok_start, r.n_in_chunk))
            per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) + r.n_in_chunk
        total = sum(lens)
        assert sum(per_chunk.values()) == total
        for did, pieces in per_doc.items():
            pieces.sort()
            assert all(n >= 1 for _, _, n in pieces)
            # contiguous coverage of the doc: starts chain 0, n0, n0+n1, ...
            starts = [s for _, s, _ in pieces]
            lens_p = [n for _, _, n in pieces]
            assert starts == [sum(lens_p[:i]) for i in range(len(lens_p))]
            assert sum(lens_p) == lens[did]
        if total:
            last = max(per_chunk)
            assert sorted(per_chunk) == list(range(last + 1))
            for cid, fill in per_chunk.items():
                assert fill == (L if cid != last else total - L * last)

    check()


def test_materialize_chunks_token_equality(spark):
    """The packed tensors carry EVERY token in stream order: concatenating
    all chunks (chunk_id order) equals concatenating all docs (doc_id
    order) — the north rule's token-array-equality invariant lifted to the
    packed representation. Chunk sizes are exactly seq_len except the last."""
    from gensor_spark.operators.packing import materialize_chunks
    from gensor_spark.sources.synth import synth_docs

    L = 256
    docs = synth_docs(spark, n_docs=200, seed=7, min_tok=3, max_tok=90)
    packed = pack_chunks(docs, seq_len=L, n_buckets=4)
    chunks = materialize_chunks(docs, packed)
    rows = sorted(((r.chunk_id, r.tokens) for r in chunks.collect()))
    sizes = [len(t) for _, t in rows]
    assert all(s == L for s in sizes[:-1]) and 0 < sizes[-1] <= L
    stream = [tok for _, t in rows for tok in t]
    want = [
        tok
        for r in sorted(docs.collect(), key=lambda r: r.doc_id)
        for tok in r.tokens
    ]
    assert stream == want


# --------------------------------------------------------------------------
# sampling
# --------------------------------------------------------------------------

def test_stratified_sample_deterministic_and_rate(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    rates = {"a": 0.5, "b": 0.0}
    kept = stratified_sample(df, rates).collect()
    assert all(r.source == "a" for r in kept)
    # md5-uniformity: ~50% of the 2000 'a' rows within a loose band
    assert 800 <= len(kept) <= 1200
    again = stratified_sample(df, rates).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again)
    # a sample at a higher rate is a superset (nested samples property)
    bigger = stratified_sample(df, {"a": 0.8, "b": 0.0}).collect()
    assert {r.doc_id for r in kept} <= {r.doc_id for r in bigger}


def test_quality_weighted_sample(spark):
    """Keep rate tracks the weight; weight 0 keeps nothing, 1 everything;
    deterministic across runs; NULL weight masks out."""
    from gensor_spark.operators.sampling import quality_weighted_sample

    df = spark.range(0, 6000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 2000, 0.0)
        .when(F.col("id") < 4000, 0.5)
        .otherwise(1.0).alias("w"),
    )
    kept = quality_weighted_sample(df, "w").toPandas()
    lo = kept[kept.doc_id < 2000]
    mid = kept[(kept.doc_id >= 2000) & (kept.doc_id < 4000)]
    hi = kept[kept.doc_id >= 4000]
    assert len(lo) == 0 and len(hi) == 2000
    assert 800 <= len(mid) <= 1200  # ~50% within a loose band
    again = quality_weighted_sample(df, "w").toPandas()
    assert sorted(kept.doc_id) == sorted(again.doc_id)
    # scale doubles the mid-band keep probability (clamped at 1)
    scaled = quality_weighted_sample(df, "w", scale=2.0).toPandas()
    assert len(scaled[(scaled.doc_id >= 2000) & (scaled.doc_id < 4000)]) == 2000
    # NULL weight keeps nothing
    nulls = df.withColumn("w", F.when(F.col("doc_id") >= 0, None).cast("double"))
    assert quality_weighted_sample(nulls, "w").count() == 0


# --------------------------------------------------------------------------
# repetition quality
# --------------------------------------------------------------------------

def test_repetition_stats_edges(spark):
    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),       # one repeated 3-gram
            (1, "all these tokens differ from others"),  # no repeats
            (2, "ab"),                                   # < k tokens
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs, k=3).collect()}
    # doc 0: 4 occurrences of the single gram "spam spam spam"
    assert out[0].total_grams == 4 and out[0].distinct_grams == 1
    assert out[0].dup_frac == 0.75 and out[0].top_frac == 1.0
    assert out[1].dup_frac == 0.0 and out[1].top_frac == pytest.approx(0.25)
    assert out[2].total_grams == 0 and out[2].dup_frac == 0.0


# --------------------------------------------------------------------------
# duplicate clustering
# --------------------------------------------------------------------------

def test_dup_clusters_components(spark):
    # two components: a 4-chain 1-2-3-4 (diameter 3) and a pair 10-11
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in D.dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_long_chain(spark):
    n = 12  # diameter > default dense-cluster expectation, still < max_iter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in D.dup_clusters(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == n + 1


def test_dup_clusters_string_ids(spark):
    """String doc ids (what text_view_of_tokens produces for the token
    table) must converge past diameter 3: the old numeric convergence
    checksum (sum(root::decimal)) threw/NULLed on strings, silently
    stopping after one round. The xxhash64 surrogate is type-agnostic."""
    n = 9  # chain d0-d1-...-d9, diameter 9 >> one propagation round
    pairs = spark.createDataFrame(
        [(f"d{i}", f"d{i + 1}") for i in range(n)], "id_a string, id_b string"
    )
    out = {r.doc_id: r.cluster_id for r in D.dup_clusters(pairs).collect()}
    assert set(out.values()) == {"d0"} and len(out) == n + 1


def test_dedup_on_token_table(spark):
    """The dedup stack runs unchanged on the north-star (doc_id, tokens)
    shape via the text_view adapter: a planted token-level near-dup (one
    token changed) is found by MinHash-LSH with high Jaccard."""
    base = list(range(100, 140))          # 40 token ids
    near = base.copy()
    near[20] = 999                        # one substitution
    other = list(range(5000, 5040))
    rows = [(["a", base]), (["b", base]), (["c", near]), (["d", other])]
    docs = spark.createDataFrame(
        [(r[0], r[1], len(r[1]), "s") for r in rows],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    view = D.text_view_of_tokens(docs)
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.minhash_dedup_pairs(view, threshold=0.5).collect()}
    assert pairs[("a", "b")] == 1.0       # exact token-stream dup
    assert ("a", "c") in pairs and 0.5 <= pairs[("a", "c")] < 1.0
    assert not any("d" in p for p in pairs)


def test_token_view_disambiguates_edge_tokens(spark):
    """[7, null, 8] must NOT collide with [7, 8], nor [-5, 3] with [5, 3]
    — the rendering escapes nulls and minus signs before the tokenizer."""
    docs = spark.createDataFrame(
        [("a", [7, None, 8]), ("b", [7, 8]), ("c", [-5, 3]), ("d", [5, 3])],
        "doc_id string, tokens array<int>",
    )
    texts = {r.doc_id: r.text
             for r in D.text_view_of_tokens(docs).collect()}
    assert len(set(texts.values())) == 4
    assert not D.exact_dedup(D.text_view_of_tokens(docs)).collect()


# --------------------------------------------------------------------------
# prefix filtering
# --------------------------------------------------------------------------

def test_prefix_filter_lossless(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the sleepy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "unrelated text with completely different token content"),
        (4, "the quick brown cat naps under the lazy dog tonight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # float-ulp regression: t·n one ulp above an exact integer must not
    # shorten the prefix (0.07·100 = 7.000000000000001 → ceil must read 7)
    from pyspark.sql import functions as F2

    row = (
        spark.range(1)
        .select(F2.ceil(F2.lit(0.07) * F2.lit(100) - F2.lit(1e-9)).alias("c"))
        .collect()[0]
    )
    assert row.c == 7

    for t, expect_pairs in ((0.3, True), (0.5, True), (0.8, False)):
        exact = sorted(map(tuple, D.ngram_jaccard_pairs(docs, t).collect()))
        pref = sorted(map(tuple, D.ngram_jaccard_pairs(
            docs, t, prefix_filter=True).collect()))
        assert exact == pref  # lossless at every threshold
        assert bool(exact) == expect_pairs  # and non-trivial where expected


def test_unigram_logprob_scores_vs_duckdb(spark):
    """Perplexity scorer vs a DuckDB implementation of the identical
    Laplace unigram model over the same tokenizer."""
    import duckdb
    import pandas as pd

    from gensor_spark.operators.quality import unigram_logprob_scores

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = unigram_logprob_scores(docs).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute("""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   x -> x != '')) AS tok
          FROM documents),
        counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        norm AS (SELECT sum(c) + count(*) AS denom FROM counts),
        scored AS (
          SELECT t.doc_id, count(*) AS n_tok,
                 avg(ln((c.c + 1.0) / n.denom)) AS avg_logprob
          FROM toks t JOIN counts c USING (tok) CROSS JOIN norm n
          GROUP BY 1)
        SELECT d.doc_id, coalesce(s.n_tok, 0) AS n_tok, s.avg_logprob,
               exp(-s.avg_logprob) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """).df()

    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    assert list(g["n_tok"]) == list(w["n_tok"])
    pd.testing.assert_series_equal(g["avg_logprob"], w["avg_logprob"],
                                   rtol=1e-12, check_exact=False)

    # cap >= vocab size: identical to exact. tiny cap: rare tokens fall to
    # the OOV floor, so scores can only get worse (more negative)
    exact = {r.doc_id: r.avg_logprob for _, r in g.iterrows()}
    capped = {r.doc_id: r.avg_logprob
              for r in unigram_logprob_scores(docs, vocab_broadcast_cap=5)
              .collect()}
    assert all(capped[d] <= exact[d] + 1e-12 for d in exact
               if exact[d] is not None)
    full = {r.doc_id: r.avg_logprob
            for r in unigram_logprob_scores(docs, vocab_broadcast_cap=10**6)
            .collect()}
    assert all(abs(full[d] - exact[d]) < 1e-12 for d in exact
               if exact[d] is not None)


def _ref_bigram_scores(texts: dict, lam: float = 0.7, alpha: float = 1.0):
    """Independent pure-Python Jelinek-Mercer bigram reference."""
    import math
    import re
    from collections import Counter

    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    seqs = {d: tok(t) for d, t in texts.items()}
    uni = Counter(t for s in seqs.values() for t in s)
    big = Counter(
        (s[i], s[i + 1]) for s in seqs.values() for i in range(len(s) - 1)
    )
    ctx = Counter()
    for (w1, _), c in big.items():
        ctx[w1] += c
    denom = sum(uni.values()) + alpha * len(uni)
    out = {}
    for d, s in seqs.items():
        lps = [
            math.log(
                lam * big[(s[i], s[i + 1])] / ctx[s[i]]
                + (1.0 - lam) * (uni[s[i + 1]] + alpha) / denom
            )
            for i in range(len(s) - 1)
        ]
        out[d] = (len(lps), sum(lps) / len(lps) if lps else None)
    return out


def test_bigram_logprob_scores_vs_python_reference(spark):
    """Interpolated bigram scorer vs an independent pure-Python model,
    including the short-doc mask (0/1 tokens -> n_pairs=0, null score)."""
    from gensor_spark.operators.quality import bigram_logprob_scores
    from gensor_spark.plans.caching import release_caches

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "a dog ran over the mat",
        4: "mat the on sat cat the",   # same unigrams as doc 1, odd order
        5: "zzz",                       # 1 token: no transitions
        6: "",                          # empty
    }
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_pairs, r.avg_logprob)
        for r in bigram_logprob_scores(docs).collect()
    }
    release_caches()
    want = _ref_bigram_scores(texts)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], d
        if want[d][1] is None:
            assert got[d][1] is None
        else:
            assert abs(got[d][1] - want[d][1]) < 1e-12, d
    # the filter's point: doc 4 has doc 1's exact unigram mix but improbable
    # transitions — the bigram model must score it strictly worse
    assert got[4][1] < got[1][1] - 0.1


def _ref_kn_scores(texts: dict, d: float = 0.75):
    """Independent pure-Python interpolated Kneser-Ney bigram reference."""
    import math
    import re
    from collections import Counter, defaultdict

    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    seqs = {k: tok(t) for k, t in texts.items()}
    big = Counter(
        (s[i], s[i + 1]) for s in seqs.values() for i in range(len(s) - 1)
    )
    ctx, nfwd, nbwd = Counter(), Counter(), Counter()
    for (w1, w2), c in big.items():
        ctx[w1] += c
        nfwd[w1] += 1
        nbwd[w2] += 1
    B = len(big)

    def p(w1, w2):
        return (max(big[(w1, w2)] - d, 0.0) / ctx[w1]
                + d * nfwd[w1] / ctx[w1] * nbwd[w2] / B)

    out = {}
    for k, s in seqs.items():
        lps = [math.log(p(s[i], s[i + 1])) for i in range(len(s) - 1)]
        out[k] = (len(lps), sum(lps) / len(lps) if lps else None)
    # model validity: for every context, p sums to exactly 1 over the
    # vocab (the KN interpolation identity)
    vocab = set(nbwd) | {w for s in seqs.values() for w in s}
    for w1 in ctx:
        total = sum(p(w1, w2) for w2 in vocab)
        tail = sum(nbwd[w2] for w2 in vocab) / B  # == 1 by construction
        assert abs(tail - 1.0) < 1e-12
        assert abs(total - 1.0) < 1e-9, (w1, total)
    return out


def test_kn_bigram_scores_vs_python_reference(spark):
    """Interpolated Kneser-Ney scorer vs an independent pure-Python model
    (which also self-checks the sums-to-one identity per context)."""
    from gensor_spark.operators.quality import kn_bigram_logprob_scores
    from gensor_spark.plans.caching import release_caches

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "a dog ran over the mat",
        4: "mat the on sat cat the",
        5: "zzz",
        6: "",
    }
    docs = spark.createDataFrame(
        [(k, t) for k, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_pairs, r.avg_logprob)
        for r in kn_bigram_logprob_scores(docs).collect()
    }
    release_caches()
    want = _ref_kn_scores(texts)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        if want[k][1] is None:
            assert got[k][1] is None
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-12, k
    # same discrimination property as JM: shuffled doc scores worse
    assert got[4][1] < got[1][1] - 0.1
    with pytest.raises(ValueError):
        kn_bigram_logprob_scores(docs, discount=1.5)


def test_bigram_logprob_rejects_bad_lam(spark):
    from gensor_spark.operators.quality import bigram_logprob_scores

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for bad in (0.0, 1.0, -0.2, 1.5):
        with pytest.raises(ValueError):
            bigram_logprob_scores(docs, lam=bad)


def test_cluster_representatives_keep_best(spark):
    from gensor_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, "short", 0.2), (2, "longer text", 0.9), (3, "mid", 0.5),
         (4, "solo", 0.1), (5, "nulls", None), (6, "nulls2", None)],
        "doc_id long, text string, q double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    # best-q wins in cluster 1; singleton 4 survives; all-null cluster
    # keeps its min id
    out = {r.doc_id: r.cluster_id
           for r in cluster_representatives(docs, clusters, "q").collect()}
    assert out == {2: 1, 4: 4, 5: 5}

    # lower-is-better flips the winner (e.g. perplexity)
    low = {r.doc_id for r in cluster_representatives(
        docs, clusters, "q", higher_is_better=False).collect()}
    assert low == {1, 4, 5}

    # tie on score → smallest id, deterministic
    tied = spark.createDataFrame(
        [(7, "a", 1.0), (8, "b", 1.0)], "doc_id long, text string, q double")
    tc = spark.createDataFrame([(7, 7), (8, 7)], "doc_id long, cluster_id long")
    assert [r.doc_id for r in
            cluster_representatives(tied, tc, "q").collect()] == [7]


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

def test_contamination_stats(spark):
    from gensor_spark.operators.decontaminate import contamination_stats

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely unrelated text with no benchmark overlap at all"),
            (2, "ab"),  # < n tokens: no grams, never contaminated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over the fence")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           contamination_stats(corpus, bench, n=5).collect()}
    # doc 0 shares exactly 3 of its 6 distinct 5-grams with the benchmark
    assert out[0].contaminated and out[0].overlap_grams == 3
    assert out[0].n_grams == 6 and out[0].overlap_frac == 0.5
    assert not out[1].contaminated and out[1].overlap_grams == 0
    assert out[2].n_grams == 0 and not out[2].contaminated
    assert out[2].overlap_frac == 0.0

    # min_overlap raises the collision bar
    strict = {r.doc_id: r.contaminated for r in
              contamination_stats(corpus, bench, n=5, min_overlap=4).collect()}
    assert strict == {0: False, 1: False, 2: False}


def test_cache_pool_releases_operator_caches(spark, cached_entries):
    """Operators that cache intra-plan intermediates register them in the
    plans.caching pool; release_caches() after the consuming action must
    unpersist every one (the long-lived-session leak fix)."""
    from gensor_spark.operators.dedup import simhash_pairs
    from gensor_spark.plans.caching import release_caches

    release_caches()  # start clean regardless of earlier tests
    before = cached_entries()
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta"), ("d2", "alpha beta gamma delta"),
         ("d3", "something else entirely")],
        "doc_id string, text string",
    )
    simhash_pairs(docs, max_hamming=3).collect()
    pooled = cached_entries() - before
    assert pooled >= 1
    assert release_caches() == pooled
    assert cached_entries() == before


# ------------------------------------------------------------ cache lifecycle

def _frames(spark, n: int, tag: int):
    """``n`` frames with distinct plans: the CacheManager keeps one entry
    per plan, so equal plans would share an entry."""
    return [spark.range(10 + i).selectExpr(f"id + {tag} AS x")
            for i in range(n)]


def test_cache_scope_releases_on_exit_and_on_error(spark, cached_entries):
    from gensor_spark.plans.caching import cache_scope, pooled_cache

    before = cached_entries()
    with cache_scope():
        for df in _frames(spark, 2, 1):
            pooled_cache(df).count()
        assert cached_entries() == before + 2
    assert cached_entries() == before

    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope():
            pooled_cache(_frames(spark, 1, 2)[0]).count()
            assert cached_entries() == before + 1
            raise RuntimeError("boom")
    assert cached_entries() == before


def test_nested_cache_scope_releases_only_its_own(spark, cached_entries):
    from gensor_spark.plans.caching import cache_scope, pooled_cache

    before = cached_entries()
    with cache_scope():
        outer = pooled_cache(_frames(spark, 1, 3)[0])
        with cache_scope():
            pooled_cache(_frames(spark, 1, 4)[0]).count()
            assert cached_entries() == before + 2
        assert cached_entries() == before + 1
        assert outer.storageLevel.useMemory
    assert cached_entries() == before
    assert not outer.storageLevel.useMemory


def test_equal_plans_cached_by_two_scopes_stay_with_the_owner(
        spark, cached_entries):
    """Two scopes cache an equal plan: the first to cache it owns the
    CacheManager entry, so only the owner's exit releases it, and the
    second frame is never asked to cache (Spark's "Asked to cache already
    cached data" warning cannot fire)."""
    from gensor_spark.plans.caching import cache_scope, pooled_cache

    before = cached_entries()
    with cache_scope():
        owner = pooled_cache(_frames(spark, 1, 6)[0])
        owner.count()
        with cache_scope():
            other = pooled_cache(_frames(spark, 1, 6)[0])
            assert other.count() == owner.count()
            assert not other.is_cached
            assert cached_entries() == before + 1
        assert cached_entries() == before + 1
        assert owner.storageLevel.useMemory
    assert cached_entries() == before
    assert not owner.storageLevel.useMemory


def test_build_two_then_run_both_keeps_caches_live(spark, cached_entries):
    """Two lazy plans built in one scope keep their pooled caches until the
    scope exits, whichever runs first: acting on one releases nothing the
    other still reads."""
    from gensor_spark.operators.dedup import minhash_dedup_pairs, simhash_pairs
    from gensor_spark.plans.caching import cache_scope

    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta epsilon"),
         ("d2", "alpha beta gamma delta epsilon"),
         ("d3", "something else entirely here")],
        "doc_id string, text string",
    )
    before = cached_entries()
    with cache_scope():
        sim = simhash_pairs(docs, max_hamming=3)
        mh = minhash_dedup_pairs(docs, threshold=0.5)
        built = cached_entries()
        assert built >= before + 3  # simhash table + bands + shingles
        assert {(r.id_a, r.id_b) for r in sim.collect()} == {("d1", "d2")}
        assert cached_entries() == built
        assert {(r.id_a, r.id_b) for r in mh.collect()} == {("d1", "d2")}
        assert cached_entries() == built
    assert cached_entries() == before


def test_session_pool_outside_scope_released_by_release_caches(
        spark, cached_entries):
    """Outside any scope, and in a thread started inside one, caches land in
    the session pool; release_caches() drains it and returns the count."""
    import threading

    from gensor_spark.plans.caching import (
        cache_scope,
        pooled_cache,
        release_caches,
    )

    release_caches()
    before = cached_entries()
    a, b, c = _frames(spark, 3, 5)
    pooled_cache(a)
    with cache_scope():
        t = threading.Thread(target=pooled_cache, args=(b,))
        t.start()
        t.join()
        pooled_cache(c)
    # the scope released only its own frame, c
    assert cached_entries() == before + 2
    assert release_caches() == 2
    assert cached_entries() == before
    assert release_caches() == 0


def test_only_the_caching_module_caches_a_dataframe():
    """Every DataFrame cache goes through plans.caching: no other engine
    file calls .cache(), .persist() or a DataFrame's .unpersist(). The
    broadcast variables' unpersist is not a DataFrame cache."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "gensor_spark"
    broadcast_receivers = {("operators/classifier.py", "bc")}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "plans/caching.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("cache", "persist", "unpersist")):
                continue
            recv = node.func.value
            if (node.func.attr == "unpersist" and isinstance(recv, ast.Name)
                    and (rel, recv.id) in broadcast_receivers):
                continue
            offenders.append(f"{rel}:{node.lineno} .{node.func.attr}()")
    assert not offenders, offenders


# ------------------------------------------------------------ semantic_dedup

def test_semantic_dedup_matches_numpy_reference(spark):
    """Full-pipeline parity on real fixture embeddings: quantized Lloyd
    k-means assignment + the declarative drop rule, brute-forced in numpy."""
    import numpy as np

    from gensor_spark.operators.similarity import (
        KMEANS_ITERS, SCALE, semantic_dedup)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = semantic_dedup(emb, threshold=0.45, n_centroids=8).toPandas()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    qv = np.array([
        np.floor(np.asarray(v, dtype=float) * SCALE + 0.5) for v in pdf.embedding
    ])
    ids = pdf.vec_id.to_numpy()

    def cos(a, b):
        return (a @ b.T) / (
            np.linalg.norm(a, axis=-1, keepdims=True)
            * np.linalg.norm(b, axis=-1, keepdims=True).T)

    cents = qv[ids < 8].copy()
    cent_ids = ids[ids < 8]
    for _ in range(KMEANS_ITERS):
        sim = cos(qv, cents)
        # argmax with tie-break to the LOWER cent_id: argmax picks first max
        cell = cent_ids[np.argmax(sim, axis=1)]
        new = []
        for c in cent_ids:
            members = qv[cell == c]
            new.append(np.floor(members.mean(axis=0) + 0.5)
                       if len(members) else cents[list(cent_ids).index(c)])
        cents = np.array(new)
    sim = cos(qv, cents)
    cell = cent_ids[np.argmax(sim, axis=1)]
    want_cell = dict(zip(ids.tolist(), cell.tolist()))
    got_cell = dict(zip(got.vec_id, got.cell))
    assert got_cell == want_cell
    # drop rule: kept iff no smaller-id cell-mate >= threshold
    s = cos(qv, qv)
    want_kept = {}
    for i, vid in enumerate(ids):
        mates = [j for j, vj in enumerate(ids)
                 if cell[j] == cell[i] and vj < vid and s[i, j] >= 0.45]
        want_kept[vid] = not mates
    assert dict(zip(got.vec_id, got.kept)) == want_kept
    assert not all(want_kept.values())  # the fixture actually drops some


def test_semantic_dedup_planted_twins(spark):
    """Near-identical vectors land in one cell; only the smallest id stays."""
    import numpy as np

    from gensor_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(2)
    base = rng.normal(0, 1, (6, 64)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
    # twins of vector 1 (ids 100, 101): tiny jitter, cosine ~ 1
    for j, vid in enumerate((100, 101)):
        tw = base[1] + rng.normal(0, 1e-3, 64).astype("float32")
        rows.append((vid, [float(x) for x in tw], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           semantic_dedup(emb, threshold=0.95, n_centroids=4).collect()}
    assert out[1].kept and not out[100].kept and not out[101].kept
    assert out[1].cell == out[100].cell == out[101].cell
    assert all(out[i].kept for i in range(6) if i != 1 or True)


def test_semantic_dedup_max_cell_exempts(spark):
    """Cells over the cap keep ALL members — conservative failure mode."""
    import numpy as np

    from gensor_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(emb, threshold=0.45, n_centroids=8, max_cell=2)
    assert out.filter("NOT kept").count() == 0
    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup(emb, threshold=0.0)


def test_stratified_exact_k_counts_and_determinism(spark):
    from gensor_spark.operators.sampling import stratified_exact_k

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a")
         .when(F.col("id") % 3 == 1, "b").otherwise("c").alias("source"),
    )
    out = stratified_exact_k(df, k=25).toPandas()
    assert out.groupby("source").size().to_dict() == {"a": 25, "b": 25, "c": 25}
    again = stratified_exact_k(df, k=25).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])
    # short stratum: takes everything it has, exactly once
    tiny = df.where((F.col("source") != "c") | (F.col("doc_id") < 9))
    t = stratified_exact_k(tiny, k=25).toPandas()
    assert t[t.source == "c"].shape[0] == 3  # doc_ids 2,5,8
    # monotone: a stratum's k=10 picks are a subset of its k=25 picks
    small = set(stratified_exact_k(df, k=10).toPandas()["doc_id"])
    assert small < set(out["doc_id"])


def test_stratified_exact_k_matches_duckdb(spark):
    import duckdb
    from gensor_spark.operators.sampling import DENOM, stratified_exact_k

    df = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("source"),
    )
    got = stratified_exact_k(df, k=40, salt="ek1").toPandas()
    con = duckdb.connect()
    con.register("t", df.toPandas())
    exp = con.execute(f"""
        SELECT doc_id, source FROM (
          SELECT *, row_number() OVER (
            PARTITION BY source
            ORDER BY ('0x' || substr(md5('ek1:' || doc_id), 1, 8))::BIGINT
                     % {DENOM}, doc_id) AS r
          FROM t) WHERE r <= 40
    """).df()
    assert sorted(got["doc_id"]) == sorted(exp["doc_id"])


def test_stratified_exact_k_salted_cut_is_invisible(spark):
    from gensor_spark.operators.sampling import stratified_exact_k

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("only").alias("source"))
    a = stratified_exact_k(df, k=20, salts=1).toPandas()
    b = stratified_exact_k(df, k=20, salts=64).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])


def test_stratified_exact_k_priority_order(spark):
    from gensor_spark.operators.sampling import stratified_exact_k

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
        (F.col("id") % 50).cast("double").alias("quality"),
    )
    # NULL quality must never be picked while non-null rows remain
    df = df.withColumn("quality", F.when(
        F.col("doc_id") < 4, F.lit(None)).otherwise(F.col("quality")))
    out = stratified_exact_k(df, k=5, order_col="quality").toPandas()
    assert out.groupby("source").size().to_dict() == {"a": 5, "b": 5}
    # the 5 picks per stratum are exactly the max-quality rows (49,49,48,48,47
    # per stratum by construction), none null
    assert out["quality"].notna().all()
    full = df.toPandas()
    for src, grp in out.groupby("source"):
        want = sorted(full[full.source == src]["quality"].dropna(),
                      reverse=True)[:5]
        assert sorted(grp["quality"], reverse=True) == want


def test_temperature_rates_properties():
    """alpha=1 → natural proportions (full-corpus budget keeps everything);
    alpha=0 → uniform quotas; alpha between interpolates monotonically;
    clamping under-fills rather than over-samples."""
    from gensor_spark.operators.sampling import temperature_rates

    counts = {"head": 9000, "mid": 900, "tail": 100}
    nat = temperature_rates(counts, alpha=1.0)
    assert all(v == 1.0 for v in nat.values())  # budget=N, q_s == p_s
    uni = temperature_rates(counts, alpha=0.0, budget=300)
    # uniform q = 1/3 each: head 1000/9000, tail capped at 1.0
    assert abs(uni["head"] - 100 / 9000) < 1e-12
    assert uni["tail"] == 1.0
    half = temperature_rates(counts, alpha=0.5, budget=3000)
    # flattening up-samples the tail relative to natural share
    assert half["tail"] / half["head"] > 1.0
    expected_rows = sum(min(1.0, half[s]) * counts[s] for s in counts)
    assert expected_rows <= 3000 + 1e-9  # clamp never over-fills
    import pytest as _pt
    with _pt.raises(ValueError, match="alpha"):
        temperature_rates(counts, alpha=-0.1)
    assert temperature_rates({}, alpha=0.5) == {}


def test_temperature_mix_matches_duckdb(spark):
    """The end-to-end mix: per-source counts → rates → hash keep. DuckDB
    reproduces the exact selection from the same rate table (the
    stratified_sample oracle contract extends to computed rates)."""
    import duckdb

    from gensor_spark.operators.sampling import (
        DENOM,
        temperature_mix,
        temperature_rates,
    )

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 7, "big")
        .when(F.col("id") % 10 < 9, "mid")
        .otherwise("small").alias("source"),
    )
    kept = temperature_mix(df, alpha=0.4, budget=1000).toPandas()
    counts = {r["source"]: r["count"]
              for _, r in df.groupBy("source").count().toPandas().iterrows()}
    rates = temperature_rates(counts, alpha=0.4, budget=1000)
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    case = " ".join(
        f"WHEN '{s}' THEN {int(round(r * DENOM))}" for s, r in rates.items())
    exp = con.execute(f"""
        SELECT * FROM docs
        WHERE ('0x' || substr(md5('temp1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % {DENOM}
              < (CASE source {case} ELSE 0 END)
    """).df()
    assert sorted(kept["doc_id"]) == sorted(exp["doc_id"])
    # tail keeps a larger fraction than head
    sizes = kept.groupby("source").size()
    assert sizes["small"] / counts["small"] > sizes["big"] / counts["big"]


def test_temperature_mix_null_source_rows_drop_not_crash(spark):
    from gensor_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else None) for i in range(200)],
        "doc_id long, source string")
    kept = temperature_mix(df, alpha=0.5).toPandas()
    assert len(kept) > 0
    assert kept["source"].notna().all()  # null-stratum rows dropped
