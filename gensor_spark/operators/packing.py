"""Sequence packing: assemble pre-tokenized docs into fixed-length chunks.

Training-data-pipeline extension (no gensor analogue). The north-star input
table is ``(doc_id, tokens array<int32>, n_tok, source)``; the operator that
turns it into training examples is *packing*: lay the token streams of all
docs end-to-end in a deterministic global order and cut the concatenation
into ``seq_len``-token chunks (GPT-style concat-and-chunk — docs may span a
chunk boundary). The output maps every doc to the chunk(s) it lands in with
exact token spans, so the chunk tensors can be materialized later by slicing
each doc's token array — no token data moves through this plan at all, only
``(id, length)`` pairs.

Scale design: the only global dependency is an exclusive prefix sum of doc
lengths in doc-id order. A bare ``sum() OVER (ORDER BY doc_id)`` collapses
to ONE task in any engine, so it is computed two-phase, the textbook
distributed scan:

1. bucket rows by range of the order key (quantile boundaries — one cheap
   scan — so buckets stay balanced under arbitrary id distributions);
2. an in-bucket cumulative sum (window partitioned BY BUCKET — full width);
3. per-bucket totals (one tiny row per bucket) get their own exclusive
   prefix sum on the driver-side-sized tiny DF, then broadcast-join back.

Every per-row stage is a Catalyst expression; integer division uses ``div``
(not float ``/``) so offsets stay exact past 2^53 — at 10^12 sequences the
total token count overflows doubles but not int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from gensor_spark.plans.caching import cache_scope, pooled_cache


def _bucket_of(col, boundaries: list) -> F.Column:
    """Index of the range-bucket containing ``col``: count of boundaries
    ``<=`` the value, as one aggregate fold (O(B) per row, B = #buckets).
    A pure expression over literal boundaries — identical in every plan
    branch that references it, which is the load-bearing property."""
    if not boundaries:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in boundaries])
    return F.aggregate(
        arr, F.lit(0), lambda acc, b: acc + F.when(col >= b, 1).otherwise(0)
    )


def _range_boundaries(df: DataFrame, order_col: str, n_buckets: int) -> list:
    """Driver-side bucket boundaries from a deterministic bounded sample.

    Works for ANY orderable key type (string doc ids included — Spark's
    ``>=`` on strings is the same binary collation ``orderBy`` uses). The
    sample is ~64 keys per bucket regardless of table size, so the driver
    materializes O(buckets) keys, never O(rows). Boundaries from a sample
    only affect bucket BALANCE; correctness is carried entirely by the
    monotone literal comparisons.

    Boundaries MUST be driver-side literals: a physical-partitioning bucket
    id (``repartitionByRange`` + ``spark_partition_id``) is re-evaluated
    independently in every plan branch that references it, and each range
    exchange samples its own boundaries — two branches can disagree on a
    row's bucket and silently corrupt the offsets (observed: 150k/200k
    offsets wrong the moment column pruning made the branches non-identical).
    """
    target = n_buckets * 64
    # Two driver actions (count + sample-collect) are needed here; cache
    # the single-column key projection so the upstream plan — which for
    # pack_chunks includes the full tokenization/filter pipeline — executes
    # once for both, not once per action. The cached frame is one pruned
    # column, O(rows × key width), spilled to disk if it doesn't fit.
    with cache_scope():
        keys_df = pooled_cache(df.select(order_col))
        cnt = keys_df.count()
        if cnt == 0:
            return []
        frac = min(1.0, target / cnt)
        keys = sorted(
            r[0] for r in keys_df.sample(False, frac, seed=7).collect()
        )
    if len(keys) < n_buckets:
        return []
    step = len(keys) / n_buckets
    bounds = sorted({keys[int(i * step)] for i in range(1, n_buckets)})
    return bounds


def with_global_offset(df: DataFrame, length_col: str, order_col: str,
                       n_buckets: int | None = None,
                       out_col: str = "offset") -> DataFrame:
    """Add ``out_col`` = exclusive prefix sum of ``length_col`` in
    ``order_col`` order, without a single-task global window.

    Buckets come from driver-side literal boundaries (see
    ``_range_boundaries`` for why a physical-partition-id bucket is NOT
    sound here). ``n_buckets`` defaults to the cluster parallelism. The
    per-bucket totals table has exactly ``n_buckets`` rows — its own
    prefix-sum window runs on one task by construction and that is fine
    (it is O(buckets), not O(rows)).
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    boundaries = _range_boundaries(df, order_col, n_buckets)
    b = df.withColumn("_bkt", _bucket_of(F.col(order_col), boundaries))
    w_in = (
        W.partitionBy("_bkt").orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    b = b.withColumn("_cum_in", F.sum(F.col(length_col).cast("long")).over(w_in))
    totals = b.groupBy("_bkt").agg(
        F.sum(F.col(length_col).cast("long")).alias("_tot")
    )
    w_b = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_tot").over(w_b), F.lit(0)).alias("_base")
    )
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn(out_col, F.col("_base") + F.col("_cum_in")
                    - F.col(length_col).cast("long"))
        .drop("_bkt", "_cum_in", "_base")
    )


def pack_chunks(docs: DataFrame, seq_len: int, length_col: str = "n_tok",
                id_col: str = "doc_id", n_buckets: int | None = None) -> DataFrame:
    """Concat-and-chunk packing plan: one row per (doc, chunk) overlap.

    Docs are concatenated in ``id_col`` order and the stream is cut every
    ``seq_len`` tokens. A doc whose span crosses a boundary appears in each
    chunk it touches. Columns:

    - ``chunk_id``   — 0-based chunk index in the packed stream
    - ``tok_start``  — first token of this doc that lands in this chunk
                       (offset *within the doc's own token array*)
    - ``n_in_chunk`` — how many of the doc's tokens land in this chunk

    ``sum(n_in_chunk) GROUP BY chunk_id`` is exactly ``seq_len`` for every
    chunk but the last — the invariant ``chunk_stats`` exposes. Zero-length
    docs contribute nothing and are dropped.
    """
    L = seq_len
    with_off = with_global_offset(
        docs.filter(F.col(length_col) > 0), length_col, id_col,
        n_buckets=n_buckets, out_col="_off",  # 'offset' is a SQL keyword
    )
    staged = with_off.select(
        F.col(id_col), F.col(length_col).cast("long").alias("_n"), "_off"
    )
    spans = staged.select(
        id_col, "_n", "_off",
        F.expr(f"_off div {L}").alias("_first"),
        F.expr(f"(_off + _n - 1) div {L}").alias("_last"),
    )
    exploded = spans.select(
        id_col, "_n", "_off",
        F.explode(F.sequence(F.col("_first"), F.col("_last"))).alias("chunk_id"),
    )
    chunk_lo = F.col("chunk_id") * L
    chunk_hi = (F.col("chunk_id") + 1) * L
    return exploded.select(
        id_col,
        "chunk_id",
        F.greatest(chunk_lo - F.col("_off"), F.lit(0)).alias("tok_start"),
        (F.least(chunk_hi, F.col("_off") + F.col("_n"))
         - F.greatest(chunk_lo, F.col("_off"))).alias("n_in_chunk"),
    )


def materialize_chunks(docs: DataFrame, packed: DataFrame,
                       tokens_col: str = "tokens",
                       id_col: str = "doc_id") -> DataFrame:
    """Assemble the actual training tensors: ``(chunk_id, tokens)`` —
    ``size(tokens)`` equals the ``seq_len`` the spans were packed with for
    every chunk but the last (the span table fully determines the layout).

    Joins the span table back to the docs, slices each doc's token array to
    its in-chunk piece (``slice`` is 1-based), and concatenates the pieces
    in stream order — ``array_sort`` over ``(tok_start DESC-safe struct)``
    cannot be used because pieces of *different docs* in one chunk need
    doc-order, so the sort key is the doc's global position: ``tok_start``
    within the doc plus the doc id orders pieces uniquely because a chunk
    contains at most one piece per doc and docs enter the chunk in id order.

    The whole plan is one co-partitioned join + one groupBy(chunk_id); no
    token ever crosses Python. Verification invariant (tested): the
    concatenation of all chunks equals the concatenation of all docs in id
    order — token-array equality, the north rule's per-row invariant lifted
    to the packed representation.
    """
    pieces = (
        packed.join(docs.select(F.col(id_col), F.col(tokens_col)), id_col)
        .select(
            "chunk_id",
            F.struct(
                F.col(id_col).alias("did"),
                F.slice(
                    F.col(tokens_col),
                    F.col("tok_start").cast("int") + 1,
                    F.col("n_in_chunk").cast("int"),
                ).alias("piece"),
            ).alias("p"),
        )
    )
    return (
        pieces.groupBy("chunk_id")
        .agg(F.array_sort(F.collect_list("p")).alias("_ps"))
        .select(
            "chunk_id",
            F.flatten(F.transform("_ps", lambda s: s["piece"])).alias("tokens"),
        )
    )


def chunk_stats(packed: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-chunk fill summary over a ``pack_chunks`` result: doc count,
    token fill, and the boundary-spanning head/tail docs. ``id_col`` must
    match the one the pack was built with."""
    return packed.groupBy("chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_in_chunk").alias("fill"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )
