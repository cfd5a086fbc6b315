"""Unit tests for the training-data-pipeline operators (dedup/similarity/text).

Oracle-grade checking happens in the driver comparison (queries_text.py SQL
vs Spark at sf0.01); these tests pin the semantic invariants on small
hand-built inputs: planted duplicates are found, LSH candidates are a subset
of the exact-pair baseline with full recall on high-similarity pairs, and
text features behave at the edges (empty docs, short docs, CJK).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gensor_spark.functions import text as T
from gensor_spark.operators import dedup as D
from gensor_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again until done"
    near = base.replace("lazy", "sleepy")  # one token differs -> high jaccard
    rows = [
        (0, base),
        (1, base),             # exact dup of 0
        (2, near),             # near dup of 0
        (3, "completely different words about spark window aggregates here"),
        (4, ""),               # empty doc
        (5, "one two"),        # shorter than shingle width
        (6, "der die das und der die das und der die das und nicht ein"),
        (7, "中文文本测试中文文本测试"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_planted_pair(docs):
    out = D.exact_dedup(docs).collect()
    assert [(r.dup_id, r.keeper_id) for r in out] == [(1, 0)]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p or 5 in p for p in pairs)


def test_minhash_lsh_recall_and_precision(docs):
    lsh = {(r.id_a, r.id_b) for r in
           D.minhash_dedup_pairs(docs, threshold=0.3).collect()}
    exact = {(r.id_a, r.id_b) for r in
             D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    # precision 1 by construction (verified with exact jaccard)
    assert lsh <= exact
    # the planted high-sim pairs must survive banding
    assert (0, 1) in lsh and (0, 2) in lsh


def test_minhash_xxhash64_production_family(docs):
    """The xxhash64 base-hash variant (JVM-native, the production path) must
    keep precision 1 (exact-Jaccard verify) and find the planted dups."""
    xx = {(r.id_a, r.id_b) for r in
          D.minhash_dedup_pairs(docs, threshold=0.3,
                                base_hash="xxhash64").collect()}
    exact = {(r.id_a, r.id_b) for r in
             D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert xx <= exact
    assert (0, 1) in xx and (0, 2) in xx
    # signatures themselves differ from the md5 family (different hashes)
    sig_md5 = D.minhash_signature(docs).filter("doc_id = 0").first().sig
    sig_xx = D.minhash_signature(docs, base_hash="xxhash64").filter(
        "doc_id = 0").first().sig
    assert sig_md5 != sig_xx
    assert all(0 <= v < D.MINHASH_PRIME for v in sig_xx)  # pmod normalized


def test_simhash_invariants(spark, docs):
    out = {r.doc_id: r.simhash for r in D.simhash_docs(docs).collect()}
    assert out[0] == out[1]            # identical text -> identical simhash
    assert out[4] == 0                 # empty doc -> zero signature
    assert all(v >= 0 for v in out.values())
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in D.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0


def test_shingles_short_doc_guard(spark):
    df = spark.createDataFrame([("a b",), ("",), ("x y z w",)], "text string")
    out = df.select(T.shingles(T.tokens(F.col("text")), 3).alias("s")).collect()
    assert out[0].s == [] and out[1].s == []
    assert out[2].s == ["x y z", "y z w"]


def test_lang_id_edges(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is big",),
         ("der hund und die katze und das haus",),
         ("中文文本测试中文文本测试",),
         ("zzz qqq xxx",)],
        "text string")
    out = [r.p for r in df.select(T.lang_id(F.col("text")).alias("p")).collect()]
    assert out == ["en", "de", "zh", "unknown"]


def test_quality_features_empty_doc(spark):
    df = spark.createDataFrame([("",)], "text string")
    feats = T.quality_features(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in feats.items()]).collect()[0]
    assert row.n_chars == 0 and row.n_tokens == 0
    assert row.punct_ratio == 0.0 and row.mean_token_len == 0.0


def test_embedding_lsh_subset_of_brute(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    rows = []
    for i in range(30):
        v = rng.normal(size=8)
        if i % 10 == 0:
            v = base + rng.normal(scale=0.01, size=8)  # planted near-dups
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {(r.id_a, r.id_b): r.sim for r in
             S.neardup_pairs_brute(emb, threshold=0.9).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           S.neardup_pairs_lsh(emb, threshold=0.9, dims=8).collect()}
    assert lsh <= set(brute)
    assert (0, 10) in brute and (0, 20) in brute and (10, 20) in brute
    # near-identical vectors agree on every hyperplane -> always candidates
    assert (0, 10) in lsh


def test_embedding_lsh_degenerate_bucket_cap(spark):
    """A boilerplate corpus (one repeated vector) collapses into a single
    bucket per table; max_bucket must bound the self-join instead of letting
    it square (VERDICT r1: the cap dedup.lsh_candidates has, applied here)."""
    v = [float(j % 3 - 1) or 0.5 for j in range(8)]
    rows = [(i, v) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # every vector identical -> every bucket holds all 40 rows
    capped = S.neardup_pairs_lsh(emb, threshold=0.9, dims=8, max_bucket=10)
    assert capped.count() == 0  # all buckets over the cap -> no candidates
    uncapped = S.neardup_pairs_lsh(emb, threshold=0.9, dims=8, max_bucket=1000)
    assert uncapped.count() == 40 * 39 // 2  # identical vectors: all pairs


def test_kmeans_centroids_deterministic_and_requantized(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = S.kmeans_centroids(emb, n_centroids=4, iters=2, dims=8).collect()
    b = S.kmeans_centroids(emb, n_centroids=4, iters=2, dims=8).collect()
    got_a = {r.cent_id: r.ev for r in a}
    got_b = {r.cent_id: r.ev for r in b}
    assert got_a == got_b  # no RNG anywhere -> bit-identical refits
    assert len(got_a) == 4
    for ev in got_a.values():
        assert all(isinstance(x, int) for x in ev)  # re-quantized to ints
    # iters=0 degenerates to the seed vectors themselves
    seeds = {r.cent_id: r.ev for r in
             S.kmeans_centroids(emb, n_centroids=4, iters=0, dims=8).collect()}
    quant = {r.vec_id: r.qv for r in
             emb.select("vec_id", S.quantize(F.col("embedding")).alias("qv"))
             .filter("vec_id < 4").collect()}
    assert seeds == quant


def test_ivf_kmeans_recall_vs_brute(spark):
    """k-means cells should keep recall high at n_probe < n_centroids —
    measured against the exact brute-force top-k on the driver testdata."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r.query_id, r.cand_id)
             for r in S.brute_topk(emb, k=5, n_queries=10).collect()}
    ivf = {(r.query_id, r.cand_id)
           for r in S.ivf_topk(emb, k=5, n_queries=10, n_centroids=16,
                               n_probe=4).collect()}
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_train_fraction_sampled_lloyd(spark):
    """train_fraction < 1 runs Lloyd on a modulus sample: the quantizer is
    still deterministic, seeds are retained, and end-to-end recall against
    brute force stays usable (the sample shifts the means, not the shape)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r.cent_id: r.ev for r in
         S.kmeans_centroids(emb, n_centroids=8, iters=2,
                            train_fraction=0.25).collect()}
    b = {r.cent_id: r.ev for r in
         S.kmeans_centroids(emb, n_centroids=8, iters=2,
                            train_fraction=0.25).collect()}
    assert a == b and len(a) == 8  # deterministic at any fraction
    brute = {(r.query_id, r.cand_id)
             for r in S.brute_topk(emb, k=5, n_queries=10).collect()}
    ivf = {(r.query_id, r.cand_id)
           for r in S.ivf_topk(emb, k=5, n_queries=10, n_centroids=16,
                               n_probe=4, train_fraction=0.25).collect()}
    assert len(ivf & brute) / len(brute) >= 0.5
    with pytest.raises(ValueError, match="train_fraction"):
        S.kmeans_centroids(emb, train_fraction=0.0)


def test_brute_topk_rank_order(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.brute_topk(emb, k=3, n_queries=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cand_id, r.sim))
    # orthonormal vectors: all sims 0, rank breaks ties by cand_id
    assert [c for _, c, _ in sorted(by_q[0])] == [1, 2, 3]


def test_ivf_probe_all_equals_brute(spark):
    """IVF with n_probe == n_centroids scans every cell — must equal the
    brute-force ranking exactly (cell-recall is the only approximation)."""
    import numpy as np

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    brute = {(r.query_id, r.rank): r.cand_id
             for r in S.brute_topk(emb, k=3, n_queries=5).collect()}
    ivf = {(r.query_id, r.rank): r.cand_id
           for r in S.ivf_topk(emb, k=3, n_queries=5, n_centroids=6,
                               n_probe=6, dims=8).collect()}
    assert ivf == brute


def test_doc_fingerprint_per_doc_matches_duckdb(spark):
    """Per-document fingerprint values vs the DuckDB oracle SQL.

    The standalone ``doc_fingerprint`` driver row was merged into
    ``dedup_fingerprint`` (r4 slot economy): the driver now pins only the
    collision-group aggregate, so this test keeps the per-doc fp values
    themselves oracle-checked."""
    import duckdb

    from gensor_spark.queries_text import SQL_DOC_FINGERPRINT, q_doc_fingerprint

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r.fp
           for r in q_doc_fingerprint(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = dict(con.execute(SQL_DOC_FINGERPRINT).fetchall())
    assert len(got) == len(want) > 0
    assert got == want


def test_token_entropy_matches_closed_form(spark):
    import math
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("uniform", ["a", "b", "c", "d"]),
         ("repeat", ["a", "a", "a", "a"]),
         ("mixed", ["a", "a", "b", "c"]),
         ("single", ["z"]),
         ("empty", [])],
        "doc_id string, toks array<string>")
    got = {r.doc_id: r.h for r in df.select(
        "doc_id", T.token_entropy(F.col("toks")).alias("h")).collect()}
    assert abs(got["uniform"] - math.log(4)) < 1e-12
    assert got["repeat"] == 0.0 and got["single"] == 0.0
    want = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    assert abs(got["mixed"] - want) < 1e-12
    assert got["empty"] == 0.0
