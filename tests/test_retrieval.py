"""BM25 ranked retrieval: DuckDB full-formula oracle + edge semantics.

The oracle recomputes the entire BM25 pipeline (tokenize, postings, tf, df,
Lucene idf, length normalization, qtf weighting, top-k with the same
deterministic tie-break) in DuckDB SQL over the same synthetic corpus, then
compares rank lists and scores at 1e-9.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.retrieval import bm25_topk

K1, B = 1.2, 0.75

_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS toks
  FROM documents
),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl
          FROM toks),
posting AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks),
qtok AS (
  SELECT query_id,
         unnest(list_filter(regexp_split_to_array(lower(query_text),
                                                  '[^a-z0-9]+'),
                            x -> x != '')) AS term
  FROM queries
),
qterms AS (SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY 1, 2),
tf AS (
  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
  FROM posting
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY 1, 2
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf
             * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * tf.dl / s.avgdl))) AS score
  FROM tf JOIN dft USING (term) JOIN qterms q USING (term), stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked
WHERE rank <= {{k}}
ORDER BY query_id, rank
"""


@pytest.fixture(scope="module")
def corpus(spark):
    from tests.conftest import SF_SMOKE

    df = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(spark):
    rows = [
        ("q0", "window hash join"),
        ("q1", "merge merge batch"),        # repeated term: qtf = 2
        ("q2", "zzz-not-in-corpus-zzz"),    # no hits
        ("q3", "the spark data scan"),
    ]
    return spark.createDataFrame(rows, "query_id string, query_text string")


def _run_oracle(corpus, queries, k):
    docs_pdf = corpus.select("doc_id", "text").toPandas()
    q_pdf = queries.toPandas()
    con = duckdb.connect()
    con.register("documents", docs_pdf)
    con.register("queries", q_pdf)
    return con.execute(_ORACLE_SQL.format(k=k)).df()


def test_bm25_matches_duckdb_oracle(spark, corpus, queries):
    k = 7
    got = (
        bm25_topk(corpus, queries, k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    exp = _run_oracle(corpus, queries, k)
    assert list(got["query_id"]) == list(exp["query_id"])
    assert list(got["rank"]) == list(exp["rank"])
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert max(abs(got["score"] - exp["score"]), default=0.0) < 1e-9


def test_bm25_salted_cut_equals_unsalted(spark, corpus, queries):
    # the two-phase salted top-k must be invisible in the result
    a = bm25_topk(corpus, queries, k=5, salts=1).orderBy("query_id", "rank")
    c = bm25_topk(corpus, queries, k=5, salts=64).orderBy("query_id", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in c.collect()]


def test_bm25_no_hit_query_absent(spark, corpus, queries):
    out = bm25_topk(corpus, queries, k=3)
    assert out.where(F.col("query_id") == "q2").count() == 0


def test_bm25_empty_and_exact_semantics(spark):
    docs = spark.createDataFrame(
        [("d0", "apple banana apple"),
         ("d1", "apple"),
         ("d2", ""),
         ("d3", "cherry cherry cherry")],
        "doc_id string, text string",
    )
    qs = spark.createDataFrame([("q", "apple")],
                               "query_id string, query_text string")
    rows = bm25_topk(docs, qs, k=10).orderBy("rank").collect()
    # only the two apple docs score; length normalization puts the short
    # pure-hit doc (dl=1) above the longer doc despite the latter's tf=2
    assert [r.doc_id for r in rows] == ["d1", "d0"]
    assert all(r.score > 0 for r in rows)
    n, avgdl, df = 4.0, (3 + 1 + 0 + 3) / 4.0, 2.0
    import math
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tf, dl):
        return idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
    assert abs(rows[0].score - s(1, 1)) < 1e-12
    assert abs(rows[1].score - s(2, 3)) < 1e-12


def test_bm25_plan_is_broadcast_and_codegen(spark, corpus, queries):
    plan = bm25_topk(corpus, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    # the corpus-side semi filter and all small sides are broadcast...
    assert "BroadcastHashJoin" in plan
    # ...and nothing falls back to per-row Python or a cartesian product
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
