"""One-call batch corpus preparation: the end-to-end training-data story.

Every stage below exists as an audited standalone operator; this module is
the BATCH composition proof (mirror of the streaming
``streaming/ingest_stream.ingest_pipeline``) — the sequence a pretraining
data pipeline actually runs over a crawl snapshot:

    gate → [gopher rules] → [PII scrub] → exact dedup → [near dedup,
    keep best-of-cluster] → [benchmark decontamination] → [source mixing]
    → [sequence packing]

Composition rules that make this safe at 100 TB:

- every row-local stage (gate, gopher, scrub) stays inside whole-stage
  codegen and composes into the scan — the pipeline pays them at read cost;
- each dedup stage drops rows BEFORE the next stage's shuffles, so the
  expensive stages (minhash, packing) see the already-shrunk corpus;
- mixing is the deterministic hash sampler — the whole pipeline is
  re-runnable with identical output (resume/debug contract), since no
  stage uses ``rand()``;
- the ONLY driver-side materialization is the per-source count table when
  ``temperature`` mixing is requested (#sources rows) and the optional
  stage-count report (one count job per enabled stage — skip it in
  production runs, it exists for audits and tests).

Returns ``(docs, report)`` where ``docs`` carries the surviving rows (plus
``tokens``/``n_tok`` and the packing plan columns when ``seq_len`` is
set) and ``report`` maps stage name → surviving row count (empty when
``report=False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_prep(
    docs: DataFrame,
    *,
    min_chars: int = 20,
    min_alnum_ratio: float = 0.5,
    gopher: bool = False,
    scrub: bool = False,
    near_dedup: bool = False,
    minhash_threshold: float = 0.7,
    benchmark: DataFrame | None = None,
    contamination_n: int = 8,
    rates: dict[str, float] | None = None,
    temperature: float | None = None,
    budget: int | None = None,
    salt: str = "prep1",
    seq_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    report: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the composed preparation over ``docs`` (``doc_id, text, source``
    at minimum). Stages toggle independently; disabled stages cost
    nothing. ``rates`` and ``temperature`` are exclusive mixing modes.

    The post-gate/scrub frame, and with ``near_dedup`` the post-exact-dedup
    frame, are pooled caches (``plans.caching.pooled_cache``): the
    caller's ``cache_scope()`` releases them when it exits, or, outside a
    scope, ``release_caches()`` once the caller's action is done. Both
    frames are consumed by MULTIPLE downstream branches (the exact-dedup
    digest agg + its anti-join left side; the minhash signature chain, the
    representative quality table and the mixing counts), and without
    materialization Spark re-executes
    the scan + row-local stages — including the regex-heavy PII scrub —
    once per branch (r5 profiling: 4 scan+scrub replays in this very
    composition's plan)."""
    from gensor_spark.plans.caching import pooled_cache
    from gensor_spark.streaming.ingest_stream import quality_gate

    if rates is not None and temperature is not None:
        raise ValueError("pass rates= or temperature=, not both")
    rep: dict[str, int] = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if report:
            rep[stage] = df.count()
        return df

    out = note("input", docs)
    out = note("gate", out.filter(
        quality_gate(min_chars=min_chars, min_alnum_ratio=min_alnum_ratio,
                     text_col=text_col)))

    if gopher:
        from gensor_spark.operators.qualityfilter import gopher_quality_flags

        flagged = gopher_quality_flags(out, text_col=text_col)
        out = note("gopher", flagged.filter("keep").select(*out.columns))

    if scrub:
        from gensor_spark.operators.pii import scrub_pii

        cols = out.columns
        out = note("scrub", scrub_pii(out, text_col=text_col,
                                      id_col=id_col).select(*cols))

    from gensor_spark.operators.dedup import exact_dedup

    out = pooled_cache(out)
    dups = exact_dedup(out, text_col=text_col, id_col=id_col)
    out = note("exact_dedup", out.join(
        dups.select(F.col("dup_id").alias(id_col)), id_col, "anti"))
    if near_dedup:
        from gensor_spark.operators.dedup import (
            cluster_representatives,
            dup_clusters,
            minhash_dedup_pairs,
        )

        out = pooled_cache(out)

        # the minhash chain (shingles/signatures/bands) is written against
        # the canonical (doc_id, text) contract — present a renamed view
        # when the caller uses different column names
        std = out
        if text_col != "text" or id_col != "doc_id":
            clash = {c for c in ("text", "doc_id") if c in out.columns
                     and c not in (text_col, id_col)}
            if clash:
                raise ValueError(
                    f"near_dedup needs the canonical text/doc_id names but "
                    f"{sorted(clash)} already exist alongside "
                    f"({text_col!r}, {id_col!r}) — rename or drop them")
            std = (out.withColumnRenamed(text_col, "text")
                      .withColumnRenamed(id_col, "doc_id"))
        pairs = minhash_dedup_pairs(std, threshold=minhash_threshold)
        clusters = dup_clusters(pairs)
        quality = std.withColumn("_len", F.length("text"))
        kept = cluster_representatives(
            quality, clusters, score_col="_len", id_col="doc_id")
        if std is not out:
            kept = (kept.withColumnRenamed("text", text_col)
                        .withColumnRenamed("doc_id", id_col))
        out = note("near_dedup", kept.select(*out.columns))

    if benchmark is not None:
        from gensor_spark.operators.decontaminate import contamination_stats

        stats = contamination_stats(out, benchmark, n=contamination_n,
                                    text_col=text_col, id_col=id_col)
        clean_ids = stats.filter(~F.col("contaminated")).select(id_col)
        out = note("decontaminate", out.join(clean_ids, id_col, "semi"))

    if rates is not None:
        from gensor_spark.operators.sampling import stratified_sample

        out = note("mix", stratified_sample(out, rates, id_col=id_col,
                                            salt=salt))
    elif temperature is not None:
        from gensor_spark.operators.sampling import temperature_mix

        out = note("mix", temperature_mix(out, alpha=temperature,
                                          budget=budget, id_col=id_col,
                                          salt=salt))

    if seq_len is not None:
        from gensor_spark.functions.text import tokens
        from gensor_spark.operators.packing import pack_chunks

        with_tok = out.withColumn("tokens", tokens(F.col(text_col))) \
                      .withColumn("n_tok", F.size("tokens"))
        plan = pack_chunks(with_tok, seq_len, length_col="n_tok",
                           id_col=id_col)
        out = note("pack", with_tok.join(plan, id_col))

    return out, rep
