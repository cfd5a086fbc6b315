"""Repetition-based document quality metrics (Gopher/C4-style filters).

Training-data-pipeline extension (no gensor analogue). The standard
web-corpus quality rules drop documents dominated by repeated n-grams
(boilerplate, keyword stuffing, templated spam). Per doc and n-gram size k:

- ``dup_frac``  — fraction of n-gram *occurrences* that are repeats:
  ``(total - distinct) / total`` (the Rae et al. "duplicate n-gram
  fraction")
- ``top_frac``  — fraction taken by the single most frequent n-gram (the
  "top n-gram fraction" rule)

Shape at scale: explode to ``(doc_id, gram)`` rows, count per (doc, gram),
re-aggregate per doc — two shuffles keyed on composite/doc keys, both
partial-aggregated map-side, everything JVM-side. The alternative (per-row
HOF counting over the gram array) is O(grams²) interpreted-lambda work per
row and loses to the exchange well before web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.plans.caching import pooled_cache

from gensor_spark.functions.text import shingles, tokens


def repetition_stats(docs: DataFrame, k: int = 3, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc duplicate/top n-gram fractions for one gram size ``k``.

    Docs with fewer than ``k`` tokens have no grams: their fractions are 0
    by the mask-don't-crash convention (kept, never poisoned to null).
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(tokens(F.col(text_col)), k)).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("total_grams"),
        F.count("*").alias("distinct_grams"),
        F.max("c").alias("_top"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total_grams", F.lit(0)).alias("total_grams"),
            F.coalesce("distinct_grams", F.lit(0)).alias("distinct_grams"),
            F.coalesce(
                (F.col("total_grams") - F.col("distinct_grams")).cast("double")
                / F.col("total_grams"), F.lit(0.0),
            ).alias("dup_frac"),
            F.coalesce(
                F.col("_top").cast("double") / F.col("total_grams"), F.lit(0.0)
            ).alias("top_frac"),
        )
    )


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    vocab_broadcast_cap: int | None = None,
) -> DataFrame:
    """Unigram-LM perplexity scoring — the KenLM-proxy quality filter.

    Trains add-``alpha`` (Laplace) unigram log-probabilities from the corpus
    itself (one token-count aggregate), then scores every document by its
    mean token log-prob and perplexity ``exp(-avg_logprob)``. Low-probability
    token soup (lorem, base64 blobs, wrong-language spill) scores high
    perplexity; fluent in-distribution text scores low — the standard cheap
    stand-in for a trained LM filter at corpus-bootstrap time.

    Output: ``(doc_id, n_tok, avg_logprob, ppl)``; empty docs keep
    ``n_tok=0`` with null score (mask-don't-crash).

    Shape at scale: token counts are one partial-aggregated shuffle; scoring
    joins each token occurrence to its count. With the default
    ``vocab_broadcast_cap=None`` the join shuffles on the token (exact at
    any vocab size). Setting a cap broadcasts only the top-``cap`` tokens
    and treats everything rarer as OOV at the unseen-token probability —
    the web-scale path (zipf vocab ⇒ the head covers ~all occurrences) at
    the cost of under-weighting rare-token logprobs toward the OOV floor.
    """
    from gensor_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    # counts feed both the logprob table and the (N, V) normalizer; persist
    # so the tokenize+count plan executes once, not once per consumer —
    # owned by the caller's cache_scope() or the session pool
    counts = pooled_cache(toks.groupBy("tok").agg(F.count("*").alias("c")))
    # global scalars as a broadcast 1-row cross join — no driver action, the
    # whole scorer stays one lazy plan
    norm = F.broadcast(counts.agg(
        (F.sum("c") + F.lit(alpha) * F.count("*")).cast("double").alias("_denom")
    ))
    lp = counts.crossJoin(norm).select(
        "tok", F.log((F.col("c") + F.lit(alpha)) / F.col("_denom")).alias("lp")
    )
    if vocab_broadcast_cap is not None:
        lp = F.broadcast(
            lp.orderBy(F.desc("lp"), "tok").limit(vocab_broadcast_cap)
        )
    scored = (
        toks.join(lp, "tok", "left")
        .crossJoin(norm)
        .withColumn("lp", F.coalesce("lp", F.log(F.lit(alpha) / F.col("_denom"))))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.avg("lp").alias("avg_logprob"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )


def _transition_pairs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per token transition. ROW-LOCAL (two
    array slices zipped; no window, no Exchange); docs with < 2 tokens
    contribute nothing."""
    toks_arr = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    )
    npairs = F.greatest(F.size("t") - 1, F.lit(0))
    return (
        toks_arr.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, npairs),
                    F.slice("t", 2, npairs),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )


def kn_bigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity scoring (Kneser & Ney
    1995, in the Chen & Goodman 1999 interpolated form) — the standard
    n-gram smoothing, sharper than Jelinek-Mercer on exactly the cases a
    quality filter cares about: KN's backoff is the CONTINUATION
    distribution (in how many distinct contexts does this word appear),
    so boilerplate words that are frequent but promiscuous ("click",
    "home") stop inflating the backoff mass the way a raw-frequency
    unigram law does. Self-trained on ``docs``:

        p(w2 | w1) = max(c(w1,w2) - d, 0)/c1(w1)
                   + d * N1+(w1,·)/c1(w1) * N1+(·,w2)/B

    with ``d`` the absolute discount, ``N1+(w1,·)`` the distinct
    continuations of w1, ``N1+(·,w2)`` the distinct contexts of w2, and
    ``B`` the total distinct bigram types. The model sums to exactly 1
    over the vocabulary for every context (pinned in tests). Scoring and
    shape mirror ``bigram_logprob_scores``: every scored transition was
    observed in training, the lp table is computed once per DISTINCT
    bigram at count-table scale, and the plan is the same three
    partial-agged shuffles + one occurrence-scale join — pure Catalyst.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    pairs = _transition_pairs(docs, text_col, id_col)
    big = pooled_cache(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    ctx = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nfwd")
    )
    cont = big.groupBy("w2").agg(F.count("*").alias("nbwd"))
    btypes = F.broadcast(
        big.agg(F.count("*").cast("double").alias("_btypes"))
    )
    d = F.lit(float(discount))
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + d * F.col("nfwd") / F.col("c1") * F.col("nbwd") / F.col("_btypes")
    )
    lp_table = (
        big.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(btypes)
        .select("w1", "w2", F.log(p).alias("lp"))
    )
    scored = (
        pairs.join(lp_table, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"), F.avg("lp").alias("avg_logprob"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )


def bigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram-LM perplexity scoring — one LM order up from
    ``unigram_logprob_scores``, and a materially sharper quality filter:
    token soup with a plausible unigram mix (shuffled text, keyword
    stuffing) still scores high because its *transitions* are improbable.

    Jelinek-Mercer interpolation, self-trained on ``docs``:

        p(w2 | w1) = lam * c(w1,w2)/c1(w1) + (1-lam) * (c(w2)+alpha)/(N+alpha*V)

    where ``c1(w1)`` is w1's *context* count (bigram occurrences starting
    with w1 — so the ML term is a true conditional that sums to 1), and the
    backoff term is exactly the add-``alpha`` unigram law the unigram scorer
    uses. ``lam`` in (0,1) keeps every probability positive without bigram
    smoothing. Each document is scored by the mean log-prob of its
    ``n_tok - 1`` transitions; docs with < 2 tokens keep ``n_pairs = 0``
    with null score (mask-don't-crash).

    Shape at scale: bigram extraction is ROW-LOCAL (two array slices zipped
    — no per-doc window, no Exchange), then: one partial-aggregated shuffle
    for bigram counts, a tiny second agg for context counts, one shuffle
    for unigram counts, and the scoring joins shuffle the transition table
    on (w1,w2) and w2. Everything JVM-side; the zipf head-broadcast cap
    that ``unigram_logprob_scores`` exposes applies the same way here if a
    deployment wants broadcast scoring joins (left as the shuffle-exact
    default — correctness first, the cap under-weights tail grams).
    """
    if not 0.0 < lam < 1.0:
        raise ValueError("lam must be in (0, 1)")
    pairs = _transition_pairs(docs, text_col, id_col)
    big = pooled_cache(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = pooled_cache(
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("c"))
    )
    norm = F.broadcast(uni.agg(
        (F.sum("c") + F.lit(alpha) * F.count("*")).cast("double").alias("_denom")
    ))
    lp = (
        F.lit(lam) * F.col("c12") / F.col("c1")
        + F.lit(1.0 - lam) * (F.col("c") + F.lit(alpha)) / F.col("_denom")
    )
    # score each DISTINCT bigram once (count-table scale), then join the
    # occurrence table a single time — not three occurrence-scale joins
    lp_table = (
        big.join(ctx, "w1")
        .join(uni, F.col("w2") == F.col("tok"))
        .crossJoin(norm)
        .select("w1", "w2", F.log(lp).alias("lp"))
    )
    scored = (
        pairs.join(lp_table, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"), F.avg("lp").alias("avg_logprob"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )
