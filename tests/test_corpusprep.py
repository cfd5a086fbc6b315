"""Composed batch corpus preparation (operators/corpusprep.py): each stage
delegates to an already-oracled operator; pinned here — stage counts are
consistent and monotone, the composition equals running the stages by hand,
re-runs are deterministic, and the packed output keeps the chunk invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.corpusprep import corpus_prep

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield d
    d.unpersist()


def test_stage_counts_monotone_and_composition(spark, docs):
    bench = docs.limit(12)
    out, rep = corpus_prep(
        docs, gopher=False, scrub=True, near_dedup=True,
        minhash_threshold=0.6, benchmark=bench,
        rates={s.source: 0.8 for s in docs.select("source").distinct()
               .collect()},
        report=True,
    )
    stages = ["input", "gate", "scrub", "exact_dedup", "near_dedup",
              "decontaminate", "mix"]
    assert list(rep) == stages
    counts = [rep[s] for s in stages]
    assert counts[0] > 0 and counts[-1] > 0
    # scrub rewrites, never drops; every other stage only drops
    assert rep["scrub"] == rep["gate"]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    # the benchmark overlap stage really dropped the planted benchmark docs
    assert rep["decontaminate"] < rep["near_dedup"]
    assert out.count() == rep["mix"]

    # determinism: identical second run
    out2, rep2 = corpus_prep(
        docs, scrub=True, near_dedup=True, minhash_threshold=0.6,
        benchmark=bench,
        rates={s.source: 0.8 for s in docs.select("source").distinct()
               .collect()},
        report=True,
    )
    assert rep2 == rep
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(r.doc_id for r in out2.select("doc_id").collect())
    assert a == b


def test_prep_equals_hand_rolled_stages(spark, docs):
    """The one-call result == running gate + exact dedup by hand."""
    from gensor_spark.operators.dedup import exact_dedup
    from gensor_spark.streaming.ingest_stream import quality_gate

    out, _ = corpus_prep(docs)
    gated = docs.filter(quality_gate())
    dups = exact_dedup(gated)
    want = gated.join(dups.select(F.col("dup_id").alias("doc_id")),
                      "doc_id", "anti")
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_pooled_caches_are_semantically_transparent(spark, docs,
                                                    cached_entries):
    """The pooled intermediates (the r5 measured ~1.9x fix: the scan+scrub
    projection was re-executed once per downstream branch) must not change
    a single output row, in the heaviest configuration: the output
    collected while they are live equals, as a multiset, a fresh Dataset of
    the same frame collected after the scope released them."""
    from collections import Counter

    from gensor_spark.plans.caching import cache_scope, release_caches

    kw = dict(scrub=True, near_dedup=True, minhash_threshold=0.6,
              temperature=0.7)
    # earlier tests' runs leave equal plans in the session pool, and Spark
    # keeps one entry per plan: drain them so this scope owns its caches
    release_caches()
    before = cached_entries()
    with cache_scope():
        out, _ = corpus_prep(docs, **kw)
        assert cached_entries() > before
        cached = Counter(out.collect())
    assert cached_entries() == before
    # a new Dataset re-plans against the CacheManager: no cache is left
    uncached = Counter(out.select(*out.columns).collect())
    assert cached and cached == uncached


def test_packing_stage_invariant(spark, docs):
    out, rep = corpus_prep(docs, seq_len=128, report=True)
    assert "pack" in rep and rep["pack"] >= rep["exact_dedup"] > 0
    full = (out.groupBy("chunk_id").agg(F.sum("n_in_chunk").alias("n"))
            .filter("n <> 128"))
    assert full.count() <= 1  # only the final partial chunk may be short


def test_temperature_mode_and_validation(spark, docs):
    out, rep = corpus_prep(docs, temperature=0.5,
                           budget=100, report=True)
    assert 0 < rep["mix"] <= rep["exact_dedup"]
    with pytest.raises(ValueError, match="not both"):
        corpus_prep(docs, rates={"a": 1.0}, temperature=0.5)


def test_custom_column_names_supported(spark, docs):
    renamed = docs.withColumnRenamed("text", "content") \
                  .withColumnRenamed("doc_id", "id")
    out, rep = corpus_prep(renamed, text_col="content", id_col="id",
                           near_dedup=True, minhash_threshold=0.6,
                           report=True)
    std, rep_std = corpus_prep(docs, near_dedup=True, minhash_threshold=0.6,
                               report=True)
    assert rep["near_dedup"] == rep_std["near_dedup"] > 0
    assert sorted(out.columns) == sorted(renamed.columns)
    # a clashing leftover canonical column is rejected loudly
    clash = renamed.withColumn("text", F.lit("x"))
    with pytest.raises(ValueError, match="canonical"):
        corpus_prep(clash, text_col="content", id_col="id", near_dedup=True)


def test_gopher_stage(spark, docs):
    """gopher=True applies the full rule preset between gate and scrub —
    equals filtering by gopher_quality_flags().keep by hand."""
    from gensor_spark.operators.qualityfilter import gopher_quality_flags
    from gensor_spark.streaming.ingest_stream import quality_gate

    out, rep = corpus_prep(docs, gopher=True, report=True)
    gated = docs.filter(quality_gate())
    want_n = gopher_quality_flags(gated).filter("keep").count()
    assert rep["gopher"] == want_n
    assert rep["gopher"] <= rep["gate"]
    assert "gopher" in rep and list(rep)[:3] == ["input", "gate", "gopher"]
