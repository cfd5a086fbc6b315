"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline extension (no gensor analogue — the reference's only
dedup is per-series duplicate-timestamp removal, ``gensor/core/base.py:141``).
All operators are pure DataFrame plans:

- **exact**: hash-groupBy on ``md5(text)`` — one shuffle on the digest, the
  keeper is ``min(doc_id)`` per group (deterministic).
- **MinHash + LSH**: per-row signatures via higher-order functions (no
  explode of the permutation axis — one narrow projection, stays in
  whole-stage codegen), then banding → bucket self-join → exact-Jaccard
  verification. Candidate generation is the only quadratic-risk step and it
  is bounded per bucket; the verify step is an inverted-index join on
  shingles, never an array crunch over collected docs.
- **SimHash**: 32-bit signature per row, near-pairs via banded pigeonhole
  (any pair within Hamming distance ``bands-1`` shares ≥ 1 exact band) and
  ``bit_count(a XOR b)`` verification.
- **n-gram Jaccard**: the exact all-pairs baseline via a shingle
  inverted-index join — correct at any scale that survives its output size,
  and the oracle for the LSH path's recall.

Scale notes (100 TB): signatures are O(row) work; the bucket self-join is
the shuffle to watch — degenerate buckets (boilerplate docs) are capped via
``max_bucket`` below, the standard guard in web-scale dedup. Hashes default to
md5-derived values for cross-engine verifiability (see functions/text.py);
pass ``base_hash='xxhash64'`` for the production family (JVM-native, no hex
round-trip — same plan shape, cheaper signature stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from gensor_spark.plans.caching import cache_scope, pooled_cache

from gensor_spark.functions.text import md5int, shingles, tokens

DEFAULT_NUM_PERM = 32
DEFAULT_BANDS = 8  # 8 bands x 4 rows; s-curve threshold ~ (1/8)^(1/4) ≈ 0.59
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # exact for Hamming distance <= 3

#: affine MinHash family: h_p(s) = (a_p·md5int(s) + b_p) mod MINHASH_PRIME.
#: One md5 per shingle + cheap arithmetic per permutation — evaluating 32
#: separate md5 chains inside interpreted HOF lambdas was ~10× slower.
#: Coefficients derive deterministically from md5 so the SQL oracle inlines
#: the identical values.
MINHASH_PRIME = (1 << 31) - 1


def _coeff(tag: str, p: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}:{p}".encode()).hexdigest()[:8], 16)


def minhash_coeffs(num_perm: int) -> tuple[list[int], list[int]]:
    """(a, b) per permutation; a forced odd and nonzero mod the prime."""
    a = [(_coeff("a", p) | 1) % MINHASH_PRIME or 1 for p in range(num_perm)]
    b = [_coeff("b", p) % MINHASH_PRIME for p in range(num_perm)]
    return a, b


def text_view_of_tokens(docs: DataFrame, tokens_col: str = "tokens",
                        id_col: str = "doc_id") -> DataFrame:
    """Adapter: run the whole dedup stack on the north-star token table.

    The input shape is ``(doc_id, tokens array<int32>, n_tok, source)``
    (BASELINE.json input_hint); each token id renders as an unambiguous
    word — ``t<id>`` with ``-`` mapped to ``m`` (the tokenizer would strip
    a bare minus, colliding -5 with 5) and nulls as ``tnull`` (bare
    ``array_join`` silently drops nulls, collapsing [7,null,8] onto [7,8])
    — so the tokenizer round-trip reproduces the token stream exactly and
    every operator below — exact/MinHash/SimHash/Jaccard/clustering —
    applies to pre-tokenized sequences unchanged, shingling over token ids
    instead of words.
    """
    rendered = F.transform(
        F.col(tokens_col),
        lambda t: F.concat(
            F.lit("t"), F.regexp_replace(t.cast("string"), "-", "m")
        ),
    )
    joined = F.array_join(rendered, " ", null_replacement="tnull")
    return docs.select(F.col(id_col).alias("doc_id"), joined.alias("text"))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicates: ``(doc_id, keeper_id)`` for every non-keeper row.

    One shuffle keyed on the text digest; keeper = min(doc_id) per digest.
    """
    digest = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("_digest"))
    w = W.partitionBy("_digest")
    flagged = digest.withColumn("keeper_id", F.min(id_col).over(w))
    return (
        flagged.filter(F.col(id_col) != F.col("keeper_id"))
        .select(F.col(id_col).alias("dup_id"), "keeper_id")
    )


def shingle_rows(docs: DataFrame, k: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Distinct ``(doc_id, shingle)`` rows — the inverted-index base."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(shingles(tokens(F.col(text_col)), k)).alias("shingle"))
        .distinct()
    )


def fingerprint_docs(docs: DataFrame, k: int = 5, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, fp)`` rolling-hash fingerprint (1-perm MinHash over
    k-shingles; whole-token-stream hash for short docs), with the token and
    shingle arrays staged as columns (see minhash_signature on why)."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        "doc_id", "_toks", shingles(F.col("_toks"), k).alias("_sh")
    )
    fp = F.when(
        F.size("_sh") > 0,
        F.array_min(F.transform(F.col("_sh"), lambda s: md5int(s))),
    ).otherwise(md5int(F.array_join("_toks", " ")))
    return staged.select("doc_id", fp.alias("fp"))


def _base_hash(col, base_hash: str):
    """Per-shingle base hash. ``md5`` is the cross-engine-verifiable default
    (DuckDB reproduces it bit-for-bit — functions/text.md5int); ``xxhash64``
    is the production path: a JVM-native non-cryptographic hash, no hex
    round-trip, measured ~3x cheaper on the signature stage. Candidates may
    differ per family but the exact-Jaccard verify step makes the OUTPUT
    pairs depend only on recall, not on which family generated them."""
    if base_hash == "md5":
        return md5int(col)
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unknown base_hash {base_hash!r}")


def minhash_signature(docs: DataFrame, num_perm: int = DEFAULT_NUM_PERM,
                      k: int = 3, text_col: str = "text",
                      id_col: str = "doc_id",
                      base_hash: str = "md5") -> DataFrame:
    """Per-doc MinHash signature as ``array<long>`` of length ``num_perm``.

    Computed row-local with higher-order functions: for permutation ``p``,
    ``sig[p] = min over shingles of hash(p || ':' || shingle)``. Min is
    duplicate-insensitive, so the shingle array needs no distinct. Docs with
    no shingles (< k tokens) get a null signature and drop out of LSH.

    Two stagings (each a bound attribute, computed once per row — inlined
    expressions would recompute per permutation, measured 10×+ slowdown):
    the shingle array, then the per-shingle base hash ``md5int(s)``. The
    permutations are the affine family (see MINHASH_PRIME) — md5 runs once
    per shingle, not once per (shingle × permutation).
    """
    a, b = minhash_coeffs(num_perm)
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(tokens(F.col(text_col)), k).alias("_sh"),
    ).select(
        "doc_id", "_sh",
        F.transform(F.col("_sh"), lambda s: _base_hash(s, base_hash)).alias("_hs"),
    )

    def perm_min(p: int):
        # h is reduced mod the prime BEFORE multiplying: both factors then
        # fit 31 bits and a·h stays inside int64 in every engine (DuckDB
        # raises on BIGINT overflow; Java would silently wrap). pmod, not %:
        # xxhash64 is signed and % keeps the sign in Spark (identical to %
        # for the non-negative md5 path, so the oracle is unaffected)
        return F.array_min(
            F.transform(
                F.col("_hs"),
                lambda h: (F.pmod(h, F.lit(MINHASH_PRIME)) * F.lit(a[p]) + F.lit(b[p]))
                % F.lit(MINHASH_PRIME),
            )
        )

    sig = F.array(*[perm_min(p) for p in range(num_perm)])
    return staged.select(
        "doc_id",
        F.when(F.size("_sh") > 0, sig).alias("sig"),
    )


def lsh_bands(sigs: DataFrame, bands: int = DEFAULT_BANDS,
              base_hash: str = "md5") -> DataFrame:
    """Band the signature: ``(doc_id, band, band_hash)`` rows.

    ``band_hash = hash(band || ':' || csv of that band's signature slice)``
    — one key per band; the md5 default is identical in the SQL oracle,
    ``xxhash64`` is the cheaper production family (see _base_hash).
    """
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: _base_hash(
            F.concat(
                b.cast("string"), F.lit(":"),
                F.array_join(
                    F.transform(
                        F.slice("sig", b * (F.size("sig") / bands).cast("int") + 1,
                                (F.size("sig") / bands).cast("int")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ),
            ),
            base_hash,
        ),
    )
    return (
        sigs.filter(F.col("sig").isNotNull())
        .select("doc_id", F.posexplode(band_arr).alias("band", "band_hash"))
    )


def lsh_candidates(band_rows: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Distinct candidate pairs ``(id_a < id_b)`` sharing any band bucket.

    ``max_bucket`` drops degenerate buckets (near-constant boilerplate) that
    would otherwise square the join output — the standard web-scale guard.
    Dropped buckets are a recall trade documented to the caller, not a
    silent cap: count them via ``band_rows.groupBy('band','band_hash')``.
    """
    sized = band_rows.withColumn(
        "_n", F.count("*").over(W.partitionBy("band", "band_hash"))
    ).filter(F.col("_n") <= max_bucket)
    a = sized.select("band", "band_hash", F.col("doc_id").alias("id_a"))
    b = sized.select("band", "band_hash", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard_from_common(common: DataFrame, sizes: DataFrame) -> DataFrame:
    """``(id_a, id_b, jaccard)`` from overlap counts + per-doc set sizes:
    ``|A ∪ B| = |A| + |B| - |A ∩ B|`` — the one place the formula lives."""
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a")
                    .withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("common").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"),
        )
    )


def jaccard_on_pairs(pairs: DataFrame, sh_rows: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for given pairs, via inverted-index joins.

    ``|A ∩ B|`` from a two-hop join on the shingle rows. No arrays are
    shuffled — only (id, shingle) rows.
    """
    sizes = sh_rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh_rows.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh_rows.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return _jaccard_from_common(common, sizes)


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5,
                        num_perm: int = DEFAULT_NUM_PERM,
                        bands: int = DEFAULT_BANDS, k: int = 3,
                        base_hash: str = "md5") -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs with exact-Jaccard verification.

    The band table and shingle index are cached: each feeds both sides of a
    self-join, and without materialization the full tokenize→hash pipeline
    would run once per join side (production at scale writes them to tables
    — the cache is the single-job analogue).
    """
    sigs = minhash_signature(docs, num_perm=num_perm, k=k, base_hash=base_hash)
    bands_df = pooled_cache(lsh_bands(sigs, bands=bands, base_hash=base_hash))
    cands = lsh_candidates(bands_df)
    sh = pooled_cache(shingle_rows(docs, k=k))
    return jaccard_on_pairs(cands, sh).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        k: int = 3, prefix_filter: bool = False) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (inverted-index join).

    With ``prefix_filter=False`` (the recall-oracle shape) candidate
    generation joins on EVERY shared shingle — correct but quadratic in the
    hottest posting lists. ``prefix_filter=True`` applies positional prefix
    filtering (Bayardo et al. All-Pairs / PPJoin): order each doc's shingles
    by ascending global document frequency and join only on each doc's first
    ``n - ceil(t·n) + 1`` shingles. Lossless — Jaccard ≥ t implies the
    overlap ``c ≥ t·max(|A|,|B|)``, so if no common shingle fell in A's
    prefix then all ``c`` of them fit in A's last ``ceil(t·|A|) - 1``
    positions, a contradiction; symmetrically for B, hence the globally
    smallest common shingle lies in BOTH prefixes and the prefix-prefix join
    finds every qualifying pair. The exact-Jaccard verify step then makes
    the two variants return identical rows — the production path at web
    scale, where rare-shingle prefixes shrink the join input ~|prefix|/n per
    side and skip the frequent-shingle posting lists entirely.
    """
    sh = pooled_cache(shingle_rows(docs, k=k))
    if prefix_filter:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        ranked = (
            sh.join(freq, "shingle")
            .withColumn("_rk", F.row_number().over(
                W.partitionBy("doc_id").orderBy("_df", "shingle")))
            .withColumn("_n", F.count("*").over(W.partitionBy("doc_id")))
        )
        # the -1e-9 guards the float product landing one ulp ABOVE an exact
        # integer (0.07·100 = 7.000000000000001 → ceil 8, one prefix element
        # short → a Jaccard-exactly-t boundary pair could slip the filter);
        # nudging down can only lengthen the prefix, never lose exactness
        prefix = ranked.filter(
            F.col("_rk") <= F.col("_n")
            - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
        ).select("doc_id", "shingle")
        # Explicit-count repartition on the join key: the self-join's input
        # shuffles are tiny in bytes but its output fans out per posting
        # list (row-amplifying), so AQE's byte model coalesces the join
        # stage 1-2 wide. REPARTITION_BY_NUM is exempt from coalescing and
        # still satisfies the join's required distribution (measured at
        # sf0.1: ~27% off the wall with session coalescing on).
        n_part = docs.sparkSession.sparkContext.defaultParallelism
        prefix = prefix.repartition(n_part, F.col("shingle"))
        pairs = (
            prefix.withColumnRenamed("doc_id", "id_a")
            .join(prefix.withColumnRenamed("doc_id", "id_b"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        return jaccard_on_pairs(pairs, sh).filter(F.col("jaccard") >= threshold)
    # all-pairs baseline: the overlap counts fall straight out of ONE
    # inverted-index self-join — no distinct pair materialization, no
    # two-hop re-join of the index (that shape exists for externally-given
    # candidate sets; here every joined row IS one unit of |A ∩ B|)
    # same AQE-coalescing defeat as the prefix path: the index self-join is
    # row-amplifying, so its width must come from the explicit count, not
    # the byte model
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle").repartition(
        n_part, F.col("shingle"))
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle").repartition(
        n_part, F.col("shingle"))
    common = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _jaccard_from_common(common, sizes).filter(
        F.col("jaccard") >= threshold
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 64) -> DataFrame:
    """Connected components over near-dup pairs: ``(doc_id, cluster_id)``
    with ``cluster_id`` = the smallest doc id in the component — the
    canonical "keep one per duplicate cluster" assignment.

    Iterative min-label propagation with pointer jumping: every round each
    node takes the min of (its label, its neighbors' labels, its *label's*
    label). The neighbor step moves a component's min one hop; the
    pointer-jumping step (root ← root-of-root, the classic parallel
    union-find shortcut) then doubles the distance already covered, so
    rounds are O(log diameter) — a 12-node chain converges in 4 rounds, not
    12. Each round is two distributed joins over the edge/label tables — no
    driver-side graph, no collected adjacency. Convergence is detected by a
    type-agnostic checksum: ``sum(xxhash64(id, root))`` over the label
    table. Labels are a deterministic function of the round, so the sum is
    identical between rounds iff no label changed (up to a ~2^-64-per-round
    hash-collision probability — negligible even at 10^9 nodes × 64
    rounds); one tiny aggregate per round instead of a change-detection
    join, and it works for string doc ids (the north-star token table's id
    type) where a numeric ``sum(root)`` would NULL out or throw under ANSI.

    Genuinely iterative, yet still oracle-checkable: the fixpoint equals the
    transitive-closure minimum, which DuckDB computes with one recursive CTE.
    """
    # cache the pair input: the symmetric union references it twice, and
    # without materialization the whole upstream pair pipeline (LSH/SimHash
    # joins) would run once per branch; the edge list itself is checkpointed
    # so none of the loop's rounds re-derive it either
    with cache_scope():
        pairs = pooled_cache(pairs)
        edges = (
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
            .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
            .distinct()
            .localCheckpoint()
        )
    # localCheckpoint (not cache): each round's plan would otherwise nest the
    # previous round's joins — after N rounds the lineage is N joins deep and
    # the optimizer chokes long before the data does. Checkpointing cuts the
    # lineage to the materialized blocks every round; the eager action doubles
    # as the round barrier.
    labels = (
        edges.select(F.col("u").alias("id")).distinct()
        .withColumn("root", F.col("id"))
        .localCheckpoint()
    )

    def _checksum(lbl: DataFrame):
        # xxhash64 accepts any input type (string/long/binary), so the
        # fixpoint test never depends on the id column's type. The decimal
        # cast keeps the 64-bit hash sum exact (no int64 overflow on the
        # sum, no double rounding).
        return lbl.agg(
            F.sum(F.xxhash64("id", "root").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    return _propagate(edges, labels, _checksum, max_iter)


def _propagate(edges: DataFrame, labels: DataFrame, _checksum,
               max_iter: int) -> DataFrame:
    # Storage note: each round's localCheckpoint blocks are reclaimed by
    # Spark's ContextCleaner once the driver drops the previous round's
    # reference (rebinding `labels` below) — live copies stay O(1) between
    # driver GCs, not O(rounds). DataFrame.unpersist() would not help here:
    # localCheckpoint storage is RDD-level, not CacheManager-level.
    prev_sum = _checksum(labels)
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels.select(F.col("id").alias("v"),
                                     F.col("root").alias("vroot")), "v")
            .groupBy("u").agg(F.min("vroot").alias("nb_root"))
            .withColumnRenamed("u", "id")
        )
        hopped = (
            labels.join(nb_min, "id", "left")
            .select("id", F.least(
                F.col("root"), F.coalesce("nb_root", F.col("root"))
            ).alias("root"))
        )
        # pointer jumping: follow the label one more step (root of root).
        # The mapping side is the MATERIALIZED previous labels, not `hopped`
        # — hopped is referenced once, so nothing in the round recomputes;
        # any labels-table lookup only ever returns a smaller id from the
        # same component, so correctness is untouched and distance doubles.
        new_labels = (
            hopped.join(labels.select(F.col("id").alias("root"),
                                      F.col("root").alias("rroot")),
                        "root", "left")
            .select("id", F.least(
                F.col("root"), F.coalesce("rroot", F.col("root"))
            ).alias("root"))
            .localCheckpoint()
        )
        labels = new_labels
        cur_sum = _checksum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("root").alias("cluster_id"))


def _simhash_from_hashes(th, bits: int):
    """SimHash value from a (bound-attribute) array of token hashes.

    Per bit ``b``: sum over tokens (with multiplicity) of ±1 according to
    bit ``b`` of the token hash; bit set iff the sum is strictly positive.
    The bit loop is unrolled in Python (Spark's shift functions take a
    literal int); bits are tested with AND masks to stay lambda-safe.
    """

    def vote(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    val = F.lit(0).cast("long")
    for b in range(bits):
        votes = F.aggregate(th, F.lit(0), vote(1 << b))
        val = val + F.when(votes > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return val


def simhash_docs(docs: DataFrame, bits: int = SIMHASH_BITS,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, simhash)`` with the token-hash array staged once per row.

    The 32 per-bit aggregates all read the same ``_th`` attribute; inlining
    the tokenize+md5 expression into each aggregate would recompute it
    ``bits`` times per row (measured ~10× slowdown). An explode+groupBy
    formulation (32 conditional SUMs in codegen) was A/B-tested against this
    row-local fold on cached sf0.1 docs and LOST (0.76s vs 0.55s warm): the
    md5-per-token cost dominates both, and the explode adds an exchange the
    fold never pays — row-local stays the winner at any scale.
    """
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(F.col(text_col)), lambda t: md5int(t)).alias("_th"),
    )
    return staged.select(
        "doc_id", _simhash_from_hashes(F.col("_th"), bits).alias("simhash")
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  bits: int = SIMHASH_BITS, bands: int = SIMHASH_BANDS,
                  text_col: str = "text", id_col: str = "doc_id",
                  include_signatures: bool = False) -> DataFrame:
    """Pairs within ``max_hamming`` SimHash bits, via banded pigeonhole.

    Splitting ``bits`` into ``bands`` byte-bands: a pair with Hamming
    distance ≤ bands-1 must agree exactly on ≥ 1 band (pigeonhole), so the
    bucket join is lossless for ``max_hamming ≤ bands - 1`` — this is exact,
    not approximate. Verification is ``bit_count(a XOR b)``.

    ``include_signatures=True`` adds each side's raw signature as
    ``sig_a``/``sig_b`` (free — both ride the band join already), letting a
    single downstream check verify the signature computation and the banded
    join together.
    """
    if max_hamming > bands - 1:
        raise ValueError("banded join is only exact for max_hamming <= bands-1")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sh = pooled_cache(
        simhash_docs(docs, bits, text_col=text_col, id_col=id_col))
    band_arr = F.array(*[
        F.expr(f"shiftright(simhash, {b * band_bits}) & {mask}")
        for b in range(bands)
    ])
    banded = sh.select("doc_id", "simhash",
                       F.posexplode(band_arr).alias("band", "band_val"))
    a = banded.select("band", "band_val", F.col("doc_id").alias("id_a"),
                      F.col("simhash").alias("sim_a"))
    b = banded.select("band", "band_val", F.col("doc_id").alias("id_b"),
                      F.col("simhash").alias("sim_b"))
    sig_cols = ([F.col("sim_a").alias("sig_a"), F.col("sim_b").alias("sig_b")]
                if include_signatures else [])
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"),
                *sig_cols)
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    higher_is_better: bool = True,
) -> DataFrame:
    """Keep the best-scoring document of every duplicate cluster.

    ``dup_clusters`` assigns min-id canonical labels; production dedup
    usually keeps the *highest-quality* member instead (longest, lowest
    perplexity, best source — any ``score_col``, e.g.
    ``quality.unigram_logprob_scores().avg_logprob``). Unclustered docs
    (absent from ``clusters``) are their own singleton cluster and always
    survive. Ties break on the smallest doc id — deterministic at any
    parallelism.

    Output: ``docs``' full rows for the survivors plus their ``cluster_id``
    (the doc's own id for singletons).

    Shape at scale: one left join to attach cluster ids, one
    ``min_by/max_by`` aggregate per cluster (partial-aggregated — no window
    over the corpus, no sort), one semi join back. Nothing exceeds the
    cluster-count cardinality between the joins.
    """
    order = F.struct(
        (-F.col("_score") if higher_is_better else F.col("_score")).alias("s"),
        F.col(id_col).alias("i"),
    )
    labeled = docs.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    ).withColumn(
        # null scores lose to any real score (but a fully-null cluster
        # still keeps exactly one member, by id)
        "_score",
        F.coalesce(
            F.col(score_col).cast("double"),
            F.lit(float("-inf") if higher_is_better else float("inf")),
        ),
    )
    winners = labeled.groupBy("cluster_id").agg(
        F.min_by(F.col(id_col), order).alias(id_col)
    )
    return labeled.join(winners, ["cluster_id", id_col], "leftsemi") \
                  .drop("_score")
