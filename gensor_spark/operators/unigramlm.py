"""Distributed unigram-LM (SentencePiece-style) tokenizer training + encoding.

The BPE sibling (``operators/bpe.py``) learns a tokenizer bottom-up by
merging; this operator learns the OTHER production tokenizer family
top-down (Kudo 2018, SentencePiece "unigram"): start from a large seed
vocabulary of candidate substrings, fit piece probabilities by EM over
each word's segmentation lattice, and iteratively prune the pieces whose
removal costs the least likelihood until the target vocabulary size is
reached. Encoding is Viterbi segmentation — the most probable piece
sequence per word.

Distributed formulation (the same key observation as BPE): everything
trains on the WORD-FREQUENCY table, not raw text. One corpus-scale
aggregation produces ``(word, cnt)``; after that, every stage touches
vocab- or word-table-sized data:

- **seed**: substrings (≤ ``max_piece_len``) of each distinct word,
  weighted by word count — a row-local explode + one partial-agged
  shuffle at piece grain + a bounded TakeOrdered; single characters are
  always included (coverage guarantee).
- **EM round**: piece log-probs broadcast into a ``mapInPandas`` kernel
  over the word table; per word the forward-backward recursions over the
  segmentation lattice yield exact expected piece counts (posterior edge
  probabilities × word count); per-batch dict aggregation + one
  vocab-grain shuffle; the driver renormalizes (an O(vocab) update —
  vocab-sized collects are the sanctioned shape here, exactly like
  k-means centroids).
- **prune** (Kudo): each multi-char piece's loss = its expected count ×
  (its log-prob − the Viterbi score of its own string segmented WITHOUT
  it). Computed entirely on the driver over the vocab table (vocab-sized
  work, corpus never touched); keep the best ``keep_frac`` per round,
  never dropping single characters.
- **encode**: Viterbi per word in the same batched kernel, vocab
  broadcast, results memoized per distinct word per batch (the Zipf win);
  characters outside the vocabulary emit as UNK-penalized single-char
  pieces so encoding is total.

The driver loop is inherent to EM (each round's expectations depend on
the previous round's probabilities) — the sanctioned iterative shape
shared with k-means / connected components / ``bpe_train``. Per round the
driver sees O(vocab) rows, never O(corpus).

Determinism: seed selection orders by (count DESC, piece ASC); EM
expected counts are exact per word and aggregated by sum (float order
across partitions varies at ~1e-15 relative — tests pin rtol 1e-9);
Viterbi breaks score ties toward the LONGEST piece (smallest start index
wins), so two engines/runs segment identically.

gensor has no tokenizer surface; with ``bpe_train`` this completes both
halves of the production subword-tokenizer family over the engine's
token payload.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.plans.caching import cache_scope, pooled_cache

NEG_INF = float("-inf")


def _words(docs: DataFrame, text_col: str) -> DataFrame:
    from gensor_spark.functions.text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# pure-Python per-word lattice kernels (run inside Arrow batches; word-grain,
# Zipf-deduped — the bpe._encode_word justification)
# ---------------------------------------------------------------------------

def _edges(word: str, logp: dict, max_len: int):
    """Lattice edges [(i, j, piece, lp)] for pieces present in the vocab."""
    n = len(word)
    out = []
    for i in range(n):
        top = min(i + max_len, n)
        for j in range(i + 1, top + 1):
            lp = logp.get(word[i:j])
            if lp is not None:
                out.append((i, j, word[i:j], lp))
    return out


def _forward_backward(word: str, cnt: float, logp: dict, max_len: int):
    """Exact expected piece counts for one word + its log-likelihood
    contribution. Returns ({piece: expected_count}, cnt * logZ); an
    unsegmentable word (impossible while all chars are in the vocab)
    contributes nothing."""
    n = len(word)
    edges = _edges(word, logp, max_len)
    alpha = [NEG_INF] * (n + 1)
    alpha[0] = 0.0
    for i, j, _, lp in edges:  # edges are (i ASC, j ASC) — valid forward order
        if alpha[i] != NEG_INF:
            alpha[j] = _logaddexp(alpha[j], alpha[i] + lp)
    logz = alpha[n]
    if logz == NEG_INF:
        return {}, 0.0
    beta = [NEG_INF] * (n + 1)
    beta[n] = 0.0
    for i, j, _, lp in reversed(edges):
        if beta[j] != NEG_INF:
            beta[i] = _logaddexp(beta[i], lp + beta[j])
    out: dict = {}
    for i, j, piece, lp in edges:
        if alpha[i] == NEG_INF or beta[j] == NEG_INF:
            continue
        post = math.exp(alpha[i] + lp + beta[j] - logz)
        out[piece] = out.get(piece, 0.0) + post * cnt
    return out, cnt * logz


def _logaddexp(a: float, b: float) -> float:
    if a == NEG_INF:
        return b
    if b == NEG_INF:
        return a
    m = a if a > b else b
    return m + math.log(math.exp(a - m) + math.exp(b - m))


def _viterbi(word: str, logp: dict, max_len: int, unk_lp: float,
             ban_full: str | None = None):
    """Most probable segmentation. Ties break to the longest piece
    (ascending start index + strict improvement). Out-of-vocab single
    chars are allowed at ``unk_lp`` so segmentation is total.
    ``ban_full`` excludes one specific full-span piece (the pruning
    counterfactual: "segment this piece's string without itself")."""
    n = len(word)
    best = [NEG_INF] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        lo = max(0, j - max_len)
        for i in range(lo, j):
            piece = word[i:j]
            if ban_full is not None and i == 0 and j == n and piece == ban_full:
                continue
            lp = logp.get(piece)
            if lp is None:
                if j - i == 1:
                    lp = unk_lp
                else:
                    continue
            if best[i] == NEG_INF:
                continue
            s = best[i] + lp
            if s > best[j]:
                best[j] = s
                back[j] = i
    pieces = []
    j = n
    while j > 0:
        i = back[j]
        pieces.append(word[i:j])
        j = i
    pieces.reverse()
    return pieces, best[n]


# ---------------------------------------------------------------------------
# distributed stages
# ---------------------------------------------------------------------------

def _seed_vocab(words: DataFrame, n_seed: int, max_piece_len: int):
    """Top-``n_seed`` substrings by corpus-weighted frequency, plus every
    single character. Returns {piece: count} on the driver (vocab-sized)."""
    # substrings generated as one SQL higher-order expression (substring
    # with column start/length isn't expressible through the python
    # F.transform lambdas)
    # sequence(1, 0) yields DESCENDING [1, 0] in Spark, so the inner
    # sequence must be gated, not clamped: a word shorter than L would
    # otherwise emit the whole word twice per oversized L (substring pos 0
    # aliases pos 1), inflating short-word seed counts
    subs = words.select(
        F.explode(F.expr(
            f"flatten(transform(sequence(1, {max_piece_len}), "
            "L -> CASE WHEN length(w) >= L THEN "
            "transform(sequence(1, length(w) - L + 1), "
            "i -> substring(w, i, L)) "
            "ELSE cast(array() as array<string>) END))"
        )).alias("p"),
        "cnt",
    )
    # two collects (top-n + all chars) — cache the piece-grain counts so
    # the substring explode + shuffle runs once
    with cache_scope():
        counted = pooled_cache(subs.groupBy("p").agg(F.sum("cnt").alias("c")))
        top = counted.orderBy(F.desc("c"), F.asc("p")).limit(n_seed).collect()
        chars = counted.filter(F.length("p") == 1).collect()
    vocab = {r["p"]: float(r["c"]) for r in top}
    for r in chars:
        vocab.setdefault(r["p"], float(r["c"]))
    return vocab


def _normalize(counts: dict, required: set | frozenset = frozenset()) -> dict:
    """Counts → log-probs. ``required`` pieces (the training alphabet's
    single characters) are floored at 1e-12 of the total mass so EM
    sharpening can never starve them to zero — the coverage guarantee
    that keeps encoding total (the SentencePiece required-char
    convention)."""
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("empty corpus — no pieces to fit")
    floor = total * 1e-12
    for p in required:
        if counts.get(p, 0.0) < floor:
            counts[p] = floor
    total = sum(counts.values())
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


def _em_round(words: DataFrame, logp: dict, max_piece_len: int):
    """One exact EM E-step over the distributed word table. Returns
    ({piece: expected_count}, total_loglik) — vocab-sized."""
    spark = words.sparkSession
    b_logp = spark.sparkContext.broadcast(logp)

    def run(batches):
        for pdf in batches:
            acc: dict = {}
            ll = 0.0
            lp = b_logp.value
            for w, c in zip(pdf["w"], pdf["cnt"]):
                ec, wl = _forward_backward(w, float(c), lp, max_piece_len)
                ll += wl
                for p, v in ec.items():
                    acc[p] = acc.get(p, 0.0) + v
            if acc:
                yield pd.DataFrame(
                    {"p": list(acc.keys()), "c": list(acc.values()),
                     "ll": [ll] + [0.0] * (len(acc) - 1)}
                )

    rows = (
        words.mapInPandas(run, "p string, c double, ll double")
        .groupBy("p").agg(F.sum("c").alias("c"), F.sum("ll").alias("ll"))
        .collect()
    )
    counts = {r["p"]: r["c"] for r in rows}
    total_ll = sum(r["ll"] for r in rows)
    return counts, total_ll


def _prune(counts: dict, logp: dict, keep: int, max_piece_len: int) -> dict:
    """Kudo pruning on the driver: drop the multi-char pieces whose removal
    costs the least likelihood, keeping ``keep`` pieces total (single chars
    are never dropped). Returns the surviving {piece: count}."""
    floor = min(logp.values()) - 10.0
    scored = []
    for p, lp in logp.items():
        if len(p) == 1:
            continue
        _, alt = _viterbi(p, logp, max_piece_len, floor, ban_full=p)
        c = counts.get(p, 0.0)
        # likelihood loss if p is removed and its occurrences re-segment
        scored.append((c * (lp - alt), p))
    chars = {p for p in logp if len(p) == 1}
    n_multi_keep = max(keep - len(chars), 0)
    scored.sort(key=lambda t: (-t[0], t[1]))
    kept_multi = {p for _, p in scored[:n_multi_keep]}
    return {p: c for p, c in counts.items()
            if (p in chars or p in kept_multi) and c > 0}


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    max_piece_len: int = 8,
    seed_factor: int = 4,
    em_iters: int = 2,
    keep_frac: float = 0.75,
    max_rounds: int = 20,
) -> dict:
    """Learn a unigram-LM tokenizer from the corpus. Returns
    ``{piece: logprob}`` of (approximately) ``vocab_size`` pieces —
    single characters always included, so encoding is total on the
    training alphabet.
    """
    if vocab_size < 2:
        raise ValueError("vocab_size must be >= 2")
    if em_iters < 1:
        raise ValueError("em_iters must be >= 1 (pruning needs expected "
                         "counts from at least one E-step)")
    words = _words(docs, text_col).localCheckpoint()
    vocab_counts = _seed_vocab(words, vocab_size * seed_factor, max_piece_len)
    alphabet = frozenset(p for p in vocab_counts if len(p) == 1)
    logp = _normalize(vocab_counts, alphabet)
    prev_ll = NEG_INF
    for _ in range(max_rounds):
        for _ in range(em_iters):
            counts, prev_ll = _em_round(words, logp, max_piece_len)
            # multi-char pieces the corpus never uses die naturally here;
            # alphabet chars are floored (coverage guarantee)
            logp = _normalize(counts, alphabet)
        if len(logp) <= vocab_size:
            break
        keep = max(vocab_size, int(len(logp) * keep_frac))
        counts = _prune(counts, logp, keep, max_piece_len)
        logp = _normalize(counts, alphabet)
    counts, _ = _em_round(words, logp, max_piece_len)
    return _normalize(counts, alphabet)


def vocab_ids(logp: dict) -> dict:
    """Deterministic piece → integer-id table for a fitted vocabulary:
    id 0 is reserved for UNK, ids 1.. rank pieces by (logprob DESC, piece
    ASC) — frequent pieces get small ids, and two engines/runs assign
    identical ids."""
    ranked = sorted(logp, key=lambda p: (-logp[p], p))
    return {p: i + 1 for i, p in enumerate(ranked)}


def unigram_encode(
    docs: DataFrame,
    logp: dict,
    text_col: str = "text",
    max_piece_len: int = 8,
    id_col: str = "doc_id",
    emit_ids: bool = False,
) -> DataFrame:
    """Viterbi-segment every document with a learned vocabulary.

    Output: ``(id_col, pieces array<string>, n_pieces, score)`` — pieces
    concatenate back to the tokenized text (round-trip totality; unknown
    characters ride through as UNK-penalized single-char pieces). Word
    results are memoized per distinct word per batch.

    ``emit_ids=True`` adds ``token_ids array<int>`` via the
    ``vocab_ids`` table (UNK pieces → 0) — the north-star
    ``tokens array<int>`` shape, i.e. this call turns raw text into the
    engine's own input schema with a corpus-learned tokenizer.
    """
    from gensor_spark.functions.text import tokens

    spark = docs.sparkSession
    b_logp = spark.sparkContext.broadcast(logp)
    b_ids = spark.sparkContext.broadcast(vocab_ids(logp) if emit_ids else None)
    unk_lp = min(logp.values()) - 10.0 if logp else -100.0
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("ws"))

    id_name = id_col  # plain string for the closure (never the DataFrame)

    def run(batches):
        lp = b_logp.value
        pid = b_ids.value
        memo: dict = {}
        for pdf in batches:
            ids, pieces, nps, scores, tids = [], [], [], [], []
            for did, ws in zip(pdf[id_name], pdf["ws"]):
                allp: list = []
                sc = 0.0
                for w in ws:
                    hit = memo.get(w)
                    if hit is None:
                        hit = _viterbi(w, lp, max_piece_len, unk_lp)
                        memo[w] = hit
                    allp.extend(hit[0])
                    sc += hit[1]
                ids.append(did)
                pieces.append(allp)
                nps.append(len(allp))
                scores.append(sc)
                if pid is not None:
                    tids.append([pid.get(p, 0) for p in allp])
            out = {id_name: ids, "pieces": pieces, "n_pieces": nps,
                   "score": scores}
            if pid is not None:
                out["token_ids"] = tids
            yield pd.DataFrame(out)

    id_type = dict(docs.dtypes)[id_col]
    schema = (f"{id_col} {id_type}, pieces array<string>, n_pieces int, "
              "score double")
    if emit_ids:
        schema += ", token_ids array<int>"
    return toks.mapInPandas(run, schema)
