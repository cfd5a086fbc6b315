"""Similarity search over embedding columns: brute-force and LSH-bucketed.

Training-data-pipeline extension (no gensor analogue). Two tiers:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, one narrow projection per pair,
  ``row_number`` window for the top-k cut. O(corpus × queries); right answer
  at any corpus size as long as the query set broadcasts.
- **random-hyperplane LSH** — the scale path for corpus×corpus near-dup:
  sign-pattern signatures bucket the corpus so only same-bucket pairs are
  scored. Recall is tunable via planes count; candidates are verified with
  exact cosine, so precision is 1.

Determinism contract: embeddings are quantized to integers
(``floor(x * SCALE + 0.5)``) before any arithmetic. Products and sums of
small integers are exact in IEEE double regardless of association order, so
cosine values — and therefore bucket assignments and rankings — are
bit-identical between Spark and the DuckDB oracle. Hyperplanes are ±1
Rademacher vectors derived from md5 (`_plane`), generated once in Python and
inlined as literals in both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.plans.caching import pooled_cache

#: fixed-point quantization scale for cross-engine exactness
SCALE = 1000

#: multi-table LSH layout: L tables × m planes each. Candidate recall for a
#: pair at angle θ is 1 - (1 - p^m)^L with p = 1 - θ/π; at cosine 0.45
#: (p ≈ 0.65) this is ≈ 0.79 — one signature of L·m planes would be ≈ 0.006.
LSH_TABLES = 8
LSH_PLANES_PER_TABLE = 4
DEFAULT_DIMS = 64


def _plane(p: int, dims: int) -> list[int]:
    """Deterministic ±1 hyperplane ``p``: parity of md5("p:d")."""
    out = []
    for d in range(dims):
        h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
        out.append(1 if int(h[:8], 16) & 1 else -1)
    return out


def planes(n_planes: int, dims: int = DEFAULT_DIMS) -> list[list[int]]:
    return [_plane(p, dims) for p in range(n_planes)]


def quantize(vec) -> "F.Column":
    """Fixed-point quantization, round-half-up in every IEEE engine."""
    return F.transform(vec, lambda x: F.floor(x * SCALE + F.lit(0.5)).cast("long"))


def dot(a, b) -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("double"),
        lambda acc, x: acc + x,
    )


def hyperplane_bucket(vec, plane_lits: list[list[int]]) -> "F.Column":
    """LSH bucket id for one table: bit ``j`` set iff ``planes[j] · vec >= 0``."""
    sig = F.lit(0).cast("long")
    for j, w in enumerate(plane_lits):
        wcol = F.array(*[F.lit(x) for x in w])
        bit = F.when(dot(vec, wcol) >= 0,
                     F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        sig = sig + bit
    return sig


def _quantized_with_norm(emb: DataFrame, id_col: str, vec_col: str,
                         id_alias: str, vec_alias: str, norm_alias: str) -> DataFrame:
    """Stage ``(id, quantized vec, norm)`` — norms computed once per vector,
    not once per pair (3× fewer HOF dot products in all-pairs scoring)."""
    staged = emb.select(
        F.col(id_col).alias(id_alias), quantize(F.col(vec_col)).alias(vec_alias)
    )
    return staged.select(
        id_alias, vec_alias,
        F.sqrt(dot(F.col(vec_alias), F.col(vec_alias))).alias(norm_alias),
    )


def brute_topk(emb: DataFrame, k: int = 5, n_queries: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of the first ``n_queries`` vectors vs the corpus.

    The query side is broadcast — at 100 TB the corpus side streams through
    one projection stage with no shuffle until the per-query top-k, which
    aggregates to ``n_queries × k`` rows (partial top-k per partition via
    the window's sort is the dominant cost; for large k switch to
    ``top_k``-style aggregation).
    """
    from pyspark.sql import Window as W

    q = _quantized_with_norm(
        emb.filter(F.col(id_col) < n_queries), id_col, vec_col,
        "query_id", "qv", "qn")
    c = _quantized_with_norm(emb, id_col, vec_col, "cand_id", "cv", "cn")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id",
                (dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs_brute(emb: DataFrame, threshold: float = 0.45,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """All-pairs cosine ≥ threshold — O(n²) exactness baseline."""
    a = _quantized_with_norm(emb, id_col, vec_col, "id_a", "va", "na")
    b = _quantized_with_norm(emb, id_col, vec_col, "id_b", "vb", "nb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                (dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


#: fixed Lloyd iteration count for the IVF coarse quantizer — deterministic
#: and mirrored CTE-for-CTE in the DuckDB oracle
KMEANS_ITERS = 2


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16,
                     iters: int = KMEANS_ITERS, dims: int = DEFAULT_DIMS,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     train_fraction: float = 1.0) -> DataFrame:
    """Deterministic distributed Lloyd k-means over quantized vectors.

    Seeds are the first ``n_centroids`` vectors (replicable, no RNG); each
    iteration assigns every vector to its max-cosine centroid (broadcast
    join + argmax window, ties broken on centroid id) and replaces each
    centroid with the **re-quantized element-wise mean** of its cell —
    ``floor(avg + 0.5)`` back to integers, so centroid dot products stay
    exact in IEEE double in any engine and the DuckDB oracle reproduces the
    iteration bit-for-bit. Empty cells keep their previous centroid.

    Plan shape per iteration: one broadcast join (centroids are tiny) + one
    shuffle on ``cell`` for the mean — the mean is 64 ``avg`` expressions in
    a single aggregate, no explode, so the per-iteration cost is a linear
    corpus scan. At 10^9 vectors set ``train_fraction`` < 1: Lloyd then runs
    on a deterministic modulus sample (``pmod(id, round(1/f)) = 0`` — seed
    vectors are always retained so the quantizer stays replicable), and the
    assignment step in ``ivf_topk`` is the only full pass that matters.
    ``train_fraction=1.0`` (default) keeps the iteration bit-exact against
    the DuckDB oracle.
    """
    from pyspark.sql import Window as W

    if not (0.0 < train_fraction <= 1.0):
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    v = _quantized_with_norm(emb, id_col, vec_col, "vid", "qv", "qn")
    if train_fraction < 1.0:
        step = max(1, int(round(1.0 / train_fraction)))
        # keep the seed vectors: dropping them would change the (replicable)
        # initialization, not just the sample the means are estimated on
        v = v.filter(
            (F.pmod(F.col("vid"), F.lit(step)) == 0)
            | (F.col("vid") < n_centroids)
        )
    cents = (
        v.filter(F.col("vid") < n_centroids)
        .select(F.col("vid").alias("cent_id"), F.col("qv").alias("ev"))
    )
    assign_w = W.partitionBy("vid").orderBy(F.desc("csim"), F.asc("cent_id"))
    mean_cols = [
        F.floor(F.avg(F.col("qv")[i]) + 0.5).cast("long") for i in range(dims)
    ]
    for _ in range(iters):
        with_norm = cents.select(
            "cent_id", "ev", F.sqrt(dot("ev", "ev")).alias("en")
        )
        assigned = (
            v.crossJoin(F.broadcast(with_norm))
            .select(
                "vid", "qv",
                F.col("cent_id"),
                (dot("qv", "ev") / (F.col("qn") * F.col("en"))).alias("csim"),
            )
            .withColumn("_r", F.row_number().over(assign_w))
            .filter(F.col("_r") == 1)
            .select("vid", "qv", F.col("cent_id").alias("cell"))
        )
        means = assigned.groupBy("cell").agg(F.array(*mean_cols).alias("mev"))
        # n_centroids rows on both sides — never let this fall to sort-merge.
        # localCheckpoint each round: without it iteration i's plan nests all
        # i-1 previous assignment joins, and every broadcast re-derives the
        # whole chain as its own sub-job — plan depth, not data, dominated
        # the runtime (6.0s → 2.6s for the full IVF query at sf0.1). The
        # centroid values are exact integers (see docstring), so
        # materialization cannot perturb them.
        cents = (
            cents.join(F.broadcast(means), cents["cent_id"] == means["cell"], "left")
            .select("cent_id", F.coalesce("mev", "ev").alias("ev"))
            .localCheckpoint()
        )
    return cents.select(
        "cent_id", "ev", F.sqrt(dot("ev", "ev")).alias("en")
    )


def ivf_topk(emb: DataFrame, k: int = 5, n_queries: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             kmeans_iters: int = KMEANS_ITERS, dims: int = DEFAULT_DIMS,
             id_col: str = "vec_id", vec_col: str = "embedding",
             train_fraction: float = 1.0) -> DataFrame:
    """IVF-style ANN: coarse quantization → probe the nearest cells only.

    The inverted-file index: ``kmeans_centroids`` fits the coarse quantizer
    (``kmeans_iters=0`` degenerates to the first-N seed set), every vector
    is assigned to its max-cosine centroid, and a query scans only its
    ``n_probe`` closest cells — ~n_probe/n_centroids of the corpus instead
    of all of it. Exact cosine re-ranks within the probed cells, so results
    differ from brute force only by cell-recall (vectors whose cell the
    query didn't probe).

    Plan shape: two broadcast joins (centroids, queries) + one shuffle for
    the per-query top-k — the corpus is never self-joined and the scan
    prunes to probed cells, which is what survives 10^9 vectors.
    """
    from pyspark.sql import Window as W

    c = _quantized_with_norm(emb, id_col, vec_col, "cand_id", "cv", "cn")
    cents = kmeans_centroids(
        emb, n_centroids=n_centroids, iters=kmeans_iters, dims=dims,
        id_col=id_col, vec_col=vec_col, train_fraction=train_fraction,
    )
    # assign every corpus vector to its nearest centroid (broadcast join;
    # deterministic tie-break on centroid id)
    assign_w = W.partitionBy("cand_id").orderBy(
        F.desc("csim"), F.asc("cent_id")
    )
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .select("cand_id", "cv", "cn", "cent_id",
                (dot("cv", "ev") / (F.col("cn") * F.col("en"))).alias("csim"))
        .withColumn("_r", F.row_number().over(assign_w))
        .filter(F.col("_r") == 1)
        .select("cand_id", "cv", "cn", F.col("cent_id").alias("cell"))
    )
    # queries probe their n_probe nearest cells
    q = _quantized_with_norm(
        emb.filter(F.col(id_col) < n_queries), id_col, vec_col,
        "query_id", "qv", "qn",
    )
    probe_w = W.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", "cent_id",
                (dot("qv", "ev") / (F.col("qn") * F.col("en"))).alias("qsim"))
        .withColumn("_r", F.row_number().over(probe_w))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cent_id").alias("cell"))
    )
    rank_w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id",
                (dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("sim"))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs_lsh(emb: DataFrame, threshold: float = 0.45,
                      tables: int = LSH_TABLES,
                      planes_per_table: int = LSH_PLANES_PER_TABLE,
                      dims: int = DEFAULT_DIMS, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      max_bucket: int = 10_000) -> DataFrame:
    """Multi-table LSH near-dup pairs: candidates agree on ≥ 1 full table.

    ``tables × planes_per_table`` hyperplanes; table ``t`` uses planes
    ``[t·m, (t+1)·m)``. Candidates are pairs sharing any table's bucket
    (OR-amplification — see LSH_TABLES for the recall curve), then verified
    with exact cosine, so precision is 1. The bucket join shuffles
    ``rows × tables`` narrow rows — linear, no quadratic blow-up outside a
    bucket.

    ``max_bucket`` drops degenerate buckets before the self-join — the same
    guard as ``dedup.lsh_candidates``. With only 2^planes_per_table buckets
    per table, a corpus of near-zero or boilerplate-constant vectors
    collapses into one bucket and the join squares; the cap bounds the
    candidate count at ``tables × max_bucket²`` worst-case. Dropped buckets
    are a documented recall trade (count them via
    ``banded.groupBy('tbl','bucket')``), not a silent one.

    Candidates → verify split (same shape as ``dedup.lsh_candidates`` →
    ``jaccard_on_pairs``): the bucket self-join carries only ``(tbl, bucket,
    id)`` narrow rows, pairs are ``distinct()``-ed FIRST, and exact cosine is
    computed once per unique pair — a pair sharing buckets in several of the
    ``tables`` tables is never scored repeatedly.
    """
    from pyspark.sql import Window as W

    all_planes = planes(tables * planes_per_table, dims)
    # one row per vector; read by the banding stage and both verify joins
    sigs = pooled_cache(
        _quantized_with_norm(emb, id_col, vec_col, "vid", "qv", "qn"))
    bucket_arr = F.array(*[
        hyperplane_bucket(F.col("qv"),
                          all_planes[t * planes_per_table:(t + 1) * planes_per_table])
        for t in range(tables)
    ])
    banded = (
        sigs.select("vid", F.posexplode(bucket_arr).alias("tbl", "bucket"))
        .withColumn("_n", F.count("*").over(W.partitionBy("tbl", "bucket")))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    # both sides of the bucket self-join read this once; owned by the
    # caller's cache_scope() or the session pool (plans.caching)
    banded = pooled_cache(banded)
    a = banded.select("tbl", "bucket", F.col("vid").alias("id_a"))
    b = banded.select("tbl", "bucket", F.col("vid").alias("id_b"))
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = sigs.select(F.col("vid").alias("id_a"), F.col("qv").alias("va"),
                     F.col("qn").alias("na"))
    vb = sigs.select(F.col("vid").alias("id_b"), F.col("qv").alias("vb"),
                     F.col("qn").alias("nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                (dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(emb: DataFrame, threshold: float = 0.8,
                   n_centroids: int = 16, iters: int = KMEANS_ITERS,
                   dims: int = DEFAULT_DIMS, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cell: int = 10_000) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster, then dedup WITHIN
    clusters only (Abbas et al. 2023, "SemDeDup" — the published recipe for
    embedding-level dedup at LAION/LLM-corpus scale, where the all-pairs
    cosine matrix is unthinkable but within-cluster pairs are cheap).

    Pipeline: deterministic Lloyd k-means (``kmeans_centroids`` — integer
    centroids, engine-exact) → every vector assigned to its max-cosine
    cell (ties to the lower cent_id) → exact cosine on same-cell pairs
    only → a vector is DROPPED iff some smaller-id vector in its cell is
    ``>= threshold`` similar. The keep rule is declarative (anti-join
    semantics, one shot), not the sequential greedy sweep — documented
    difference: in a similarity chain a-b-c where only adjacent pairs
    clear the threshold, the sequential sweep would re-keep c, this rule
    drops both b and c. At dedup thresholds (near-identical vectors) the
    two rules coincide in practice and the declarative form needs no
    iteration.

    ``max_cell``: a degenerate cell (near-constant embedding mass) would
    square in the pair join; cells larger than the cap are EXEMPT from
    dedup — their members are all kept (conservative: never drop without
    verification) — the same bounded-candidates stance as
    ``lsh_candidates``/``neardup_pairs_lsh``, with keep-don't-drop as the
    failure mode instead of recall loss.

    Plan shape: one kmeans fit (broadcast joins over the corpus ×
    ``iters``), ONE full-corpus assignment pass (broadcast argmax — no
    shuffle), then a self-join keyed on ``cell`` whose fan-out is bounded
    by cell sizes, and a broadcast-able drop-set anti-join. At 10^9
    vectors raise ``n_centroids`` so cells stay small — the pair work is
    Σ|cell|², which the centroid count controls directly.

    Returns one row per vector: (vec_id, cell, kept).
    """
    from pyspark.sql import Window as W

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    cents = kmeans_centroids(emb, n_centroids, iters, dims, id_col, vec_col)
    v = _quantized_with_norm(emb, id_col, vec_col, "vid", "qv", "qn")
    assign_w = W.partitionBy("vid").orderBy(F.desc("csim"), F.asc("cent_id"))
    assigned = pooled_cache(
        v.crossJoin(F.broadcast(cents))
        .select("vid", "qv", "qn", "cent_id",
                (dot("qv", "ev") / (F.col("qn") * F.col("en"))).alias("csim"))
        .withColumn("_r", F.row_number().over(assign_w))
        .filter(F.col("_r") == 1)
        .select("vid", "qv", "qn", F.col("cent_id").alias("cell"))
        .withColumn("_cn", F.count("*").over(W.partitionBy("cell")))
    )
    small = assigned.filter(F.col("_cn") <= max_cell)
    a = small.select("cell", F.col("vid").alias("id_a"),
                     F.col("qv").alias("va"), F.col("qn").alias("na"))
    b = small.select("cell", F.col("vid").alias("id_b"),
                     F.col("qv").alias("vb"), F.col("qn").alias("nb"))
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((dot("va", "vb") / (F.col("na") * F.col("nb"))) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(drops.withColumn("_dropped", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias("vec_id"), "cell",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )
