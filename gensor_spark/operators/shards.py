"""Deterministic global shuffle + training-shard planning and writing.

Training-data-pipeline extension (no gensor analogue). The last step of a
corpus pipeline is materializing TRAINING SHARDS: the whole corpus in a
deterministic pseudo-random global order, cut into fixed-budget files.
"Shuffle" here cannot mean ``orderBy(rand())`` — a random sort is neither
reproducible across retried tasks nor verifiable. The standard web-scale
construction (used by C4/Dolma-style pipelines) is a **hash shuffle**:
order by a salted cryptographic hash of the document id. That order is

- deterministic and seed-stable: same seed ⇒ same order, new seed ⇒ a
  fresh independent permutation (re-shuffling between epochs = bump seed);
- parallelism-independent: the order is a property of the DATA, not the
  task layout, so resumed/re-run jobs cut identical shards;
- engine-portable: ``md5`` agrees byte-for-byte between Spark and DuckDB,
  so the whole plan has an exact SQL oracle.

Shard assignment is a prefix sum over that order — docs-per-shard mode
counts rows, tokens-per-shard mode accumulates ``n_tok`` and cuts every
``tokens_per_shard`` tokens (a doc belongs to the shard where its FIRST
token lands, so shards overshoot by at most one doc — the bounded-skew
contract training loaders expect). The prefix sum is the same two-phase
distributed scan as sequence packing (``packing.with_global_offset``):
never a single-task global window.

At 100 TB: one pass computes the hash (row-local expression), the offset
machinery shuffles only ``(ord, length)`` pairs bucketed by range, the
write is one exchange partitioned on ``shard`` with files sorted by the
shuffle order inside each shard, and the manifest is one partial
aggregation. Nothing is driver-side except O(buckets) range boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.packing import with_global_offset
from gensor_spark.plans.caching import cache_scope, pooled_cache


def shuffle_key(id_col: Column, seed: str = "shuffle1") -> Column:
    """Salted md5 hex of the id — the global shuffle order key.

    Portable: Spark ``md5(concat(seed, ':', id))`` equals DuckDB
    ``md5(seed || ':' || id)`` byte-for-byte (lowercase hex), so oracles
    reproduce the exact permutation.
    """
    return F.md5(F.concat(F.lit(seed), F.lit(":"), id_col.cast("string")))


def _with_order(docs: DataFrame, id_col: str, seed: str) -> DataFrame:
    """Adds ``_key`` (shuffle hash) and ``_ord`` (total order: hash with
    the unique id appended as tie-break, so the order is total even under
    a hash collision)."""
    key = shuffle_key(F.col(id_col), seed)
    return docs.withColumn("_key", key).withColumn(
        "_ord", F.concat(F.col("_key"), F.lit(":"),
                         F.col(id_col).cast("string"))
    )


def assign_shards(
    docs: DataFrame,
    *,
    tokens_per_shard: int | None = None,
    docs_per_shard: int | None = None,
    id_col: str = "doc_id",
    length_col: str = "n_tok",
    seed: str = "shuffle1",
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic shard assignment in hash-shuffled order.

    Exactly one of ``tokens_per_shard`` / ``docs_per_shard`` must be set.
    Adds:

    - ``shard``     — 0-based shard index
    - ``shard_pos`` — docs mode: the doc's ordinal within its shard;
                      tokens mode: the doc's first-token offset within the
                      shard's token budget (``global_off % tokens_per_shard``)

    Determinism contract: for a fixed (input set, seed, budget) the
    mapping row → (shard, shard_pos) is unique regardless of partitioning,
    parallelism, or run count — pinned by the DuckDB oracle and the
    repartition-invariance test.
    """
    if (tokens_per_shard is None) == (docs_per_shard is None):
        raise ValueError(
            "set exactly one of tokens_per_shard / docs_per_shard")
    staged = _with_order(docs, id_col, seed)
    if docs_per_shard is not None:
        staged = staged.withColumn("_len", F.lit(1))
        per = int(docs_per_shard)
    else:
        staged = staged.withColumn("_len", F.col(length_col).cast("long"))
        per = int(tokens_per_shard)
    with_off = with_global_offset(staged, "_len", "_ord",
                                  n_buckets=n_buckets, out_col="_goff")
    return (
        with_off
        .withColumn("shard", F.expr(f"_goff div {per}"))
        .withColumn("shard_pos", F.expr(f"_goff % {per}"))
        .drop("_len", "_goff")
    )


def shard_manifest(assigned: DataFrame,
                   length_col: str = "n_tok") -> DataFrame:
    """One row per shard: counts, token totals, and order/content digests.

    - ``n_docs`` / ``n_tokens`` — shard size in both units
    - ``first_key`` / ``last_key`` — the shuffle-order span (lets a reader
      verify global ordering: shard i's ``last_key`` ≤ shard i+1's
      ``first_key``)
    - ``content_sum`` — order-insensitive checksum (sum of the 32-bit
      md5-int of each member's order key); two runs produce identical
      manifests iff they cut identical shards

    One partial-aggregated shuffle on ``shard``; output is O(shards).
    """
    h32 = F.conv(F.substring(F.col("_key"), 1, 8), 16, 10).cast("long")
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(length_col).cast("long")).alias("n_tokens"),
            F.min("_ord").alias("first_key"),
            F.max("_ord").alias("last_key"),
            F.sum(h32).alias("content_sum"),
        )
    )


def write_shards(assigned: DataFrame, out_dir: str,
                 length_col: str = "n_tok",
                 mode: str = "overwrite") -> DataFrame:
    """Materialize shard files + manifest under ``out_dir``.

    Data lands in ``{out_dir}/data/shard=<i>/`` — one exchange hashed on
    ``shard``, rows sorted by the shuffle order within each file so a
    sequential reader streams the corpus in the exact global permutation.
    The manifest (returned, and written to ``{out_dir}/manifest/``) is the
    idempotency anchor: a re-run with the same seed produces byte-equal
    assignments, so overwrite is safe-by-determinism.
    """
    # two actions (data write + manifest) — pin the assignment DAG once so
    # the md5 projection / boundary sampling / prefix-sum shuffles don't
    # re-execute from the source for the manifest
    with cache_scope():
        assigned = pooled_cache(assigned)
        (
            assigned
            .repartition(F.col("shard"))
            .sortWithinPartitions("shard", "_ord")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(f"{out_dir}/data")
        )
        manifest = shard_manifest(assigned, length_col=length_col)
        manifest.coalesce(1).write.mode(mode).parquet(f"{out_dir}/manifest")
    # hand back the STORED manifest — its lineage is the written file, not
    # the (now unpersisted) assignment DAG
    return assigned.sparkSession.read.parquet(f"{out_dir}/manifest")
