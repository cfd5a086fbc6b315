"""Misra-Gries top-k heavy-hitter tiers: exact-regime parity vs DuckDB,
cascade associativity, and the MG certificate bounds in the truncated
regime (operators/topkrollup.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.points import events_to_points
from gensor_spark.operators.topkrollup import (
    cascade_topk,
    finalize_topk,
    merge_topk,
    rollup_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    df = events_to_points(
        spark.read.parquet(f"{SF}/events.parquet")).cache()
    yield df
    df.unpersist()


def _by_bin(df):
    """finalized rows -> {bin_key: {item: (cnt, cnt_hi)}} + per-bin err."""
    out, errs = {}, {}
    for r in df.collect():
        key = (r.doc_id, r.source, r.bin_ts)
        errs[key] = int(r.err)
        out.setdefault(key, {})
        if r.item is not None:  # empty-summary bins keep their err row
            out[key][r.item] = (int(r.cnt), int(r.cnt_hi))
    return out, errs


def _exact_counts(tier_seconds: int):
    """DuckDB ground truth: exact per-bin item counts."""
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT user_id::VARCHAR AS doc_id, event_type AS source,
               to_timestamp(floor(epoch(ts) / {tier_seconds})
                            * {tier_seconds}) AS bin_ts,
               value AS item, count(*) AS cnt
        FROM read_parquet('{SF}/events.parquet')
        WHERE value IS NOT NULL GROUP BY 1, 2, 3, 4
    """).fetchall()
    want = {}
    for d, s, t, item, cnt in rows:
        want.setdefault((d, s, t.replace(tzinfo=None)), {})[item] = int(cnt)
    return want


def test_exact_regime_matches_duckdb(spark, pts):
    """With k >= the max distinct items per bin the summary IS the exact
    per-bin count table: every item present, every cnt exact, err = 0."""
    got, errs = _by_bin(finalize_topk(rollup_topk(pts, "1h", k=512)))
    want = _exact_counts(3600)
    assert set(got) == set(want) and len(got) > 100
    for key, items in want.items():
        assert errs[key] == 0
        assert {i: c for i, (c, _) in got[key].items()} == items
        # cnt_hi == cnt when err == 0
        assert all(hi == c for c, hi in got[key].values())


def test_rank_order(spark, pts):
    """rank is 1-based count-descending within each bin."""
    rows = finalize_topk(rollup_topk(pts, "1d", k=512)).collect()
    seen = {}
    for r in rows:
        seen.setdefault((r.doc_id, r.source, r.bin_ts), []).append(
            (r.rank, r.cnt))
    for ranked in seen.values():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        cnts = [c for _, c in ranked]
        assert cnts == sorted(cnts, reverse=True)


def test_cascade_equals_direct_exact_regime(spark, pts):
    """When no truncation fires, cascading 1m summaries to 1h/1d equals
    direct aggregation at that tier, bit-for-bit, through both hops."""
    m1 = rollup_topk(pts, "1m", k=512)
    h_casc = cascade_topk(m1, "1h", k=512)
    assert _by_bin(finalize_topk(h_casc)) == _by_bin(
        finalize_topk(rollup_topk(pts, "1h", k=512)))
    assert _by_bin(finalize_topk(cascade_topk(h_casc, "1d", k=512))) == \
        _by_bin(finalize_topk(rollup_topk(pts, "1d", k=512)))


def _assert_mg_certificate(got, errs, want, k):
    """The Misra-Gries guarantees, per bin:
    - kept items:   cnt <= true <= cnt + err  (cnt_hi = cnt + err)
    - dropped items: true <= err
    - err <= total_weight / (k+1)
    """
    for key, items in want.items():
        err = errs.get(key, 0)
        total = sum(items.values())
        assert err <= total // (k + 1) + (total % (k + 1) > 0)
        kept = got.get(key, {})
        assert len(kept) <= k
        for item, (cnt, hi) in kept.items():
            true = items[item]
            assert cnt <= true <= cnt + err
            assert hi == cnt + err
        for item, true in items.items():
            if item not in kept:
                assert true <= err


N_SYNTH = 60_000
EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC


def _synth_tok(i: int) -> int:
    """Deterministic skewed token stream, reproducible in pure Python:
    every 3rd point is the heavy token 7 (~33% > n/(k+1) for k=4, so MG
    must keep it); the rest is an LCG spray over 97 tokens."""
    if i % 3 == 0:
        return 7
    return ((i * 1103515245 + 12345) % (2**31)) % 97


@pytest.fixture(scope="module")
def synth(spark):
    """Token-shaped point stream (BASELINE.json payload): 2 docs x 2
    sources, one point per minute per (doc, source), heavy-tailed values —
    enough per-1d-bin cardinality (~97) that small k truncates."""
    df = spark.range(N_SYNTH).select(
        F.concat(F.lit("d"), (F.col("id") % 2)).alias("doc_id"),
        F.concat(F.lit("s"), ((F.col("id") / 2).cast("long") % 2))
        .alias("source"),
        F.timestamp_seconds(
            F.lit(EPOCH) + (F.col("id") / 4).cast("long") * 60
        ).alias("ts"),
        F.when(F.col("id") % 3 == 0, F.lit(7)).otherwise(
            ((F.col("id") * 1103515245 + 12345) % (2**31)) % 97
        ).cast("long").alias("value"),
    ).cache()
    yield df
    df.unpersist()


def _synth_truth(tier_seconds: int):
    """Pure-Python exact per-bin counts for the synthetic stream."""
    import datetime as dt

    want = {}
    for i in range(N_SYNTH):
        key = (
            f"d{i % 2}", f"s{(i // 2) % 2}",
            dt.datetime.utcfromtimestamp(
                (EPOCH + (i // 4) * 60) // tier_seconds * tier_seconds),
        )
        items = want.setdefault(key, {})
        tok = _synth_tok(i)
        items[tok] = items.get(tok, 0) + 1
    return want


def test_truncated_regime_certificate(spark, synth):
    """k far below per-bin cardinality: every MG bound holds on every 1d
    bin vs pure-Python ground truth, the heavy token (33% > 1/(k+1)) is
    kept everywhere, and truncation actually fires."""
    k = 4
    got, errs = _by_bin(finalize_topk(rollup_topk(synth, "1d", k=k)))
    want = _synth_truth(86400)
    _assert_mg_certificate(got, errs, want, k)
    assert any(e > 0 for e in errs.values())
    assert all(7 in kept for kept in got.values())


def test_cascade_truncated_keeps_certificate(spark, synth):
    """1m(k=8) -> 1h -> 1d cascaded summaries still satisfy the MG bounds
    vs ground truth at 1d — the merge accumulates err soundly."""
    k = 8
    casc = cascade_topk(
        cascade_topk(rollup_topk(synth, "1m", k=k), "1h", k=k), "1d", k=k)
    got, errs = _by_bin(finalize_topk(casc))
    _assert_mg_certificate(got, errs, _synth_truth(86400), k)
    assert all(7 in kept for kept in got.values())


def test_merge_topk_cross_contribution(spark, synth):
    """Splitting the input into two contributions, summarizing each and
    merge_topk-ing keeps the certificate on the combined truth — the
    store's read-side merge is sound."""
    k = 8
    a = rollup_topk(synth.filter(F.minute("ts") % 2 == 0), "1d", k=k)
    b = rollup_topk(synth.filter(F.minute("ts") % 2 == 1), "1d", k=k)
    merged = merge_topk(a.unionByName(b), ["doc_id", "source", "bin_ts"], k=k)
    got, errs = _by_bin(finalize_topk(merged))
    _assert_mg_certificate(got, errs, _synth_truth(86400), k)


def test_finalize_top_slice(spark, pts):
    """finalize_topk(top=n) keeps only the first n ranks per bin."""
    rows = finalize_topk(rollup_topk(pts, "1d", k=512), top=3).collect()
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r.doc_id, r.source, r.bin_ts), []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
               for v in per_bin.values())


def test_pipeline_topk_tiers(spark, tmp_path):
    """TierPipeline(topk_tiers=True): batch-split summary contributions
    merge under the MG certificate vs exact truth over all points — and
    stay identical through compaction and an idempotent batch re-run."""
    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    k = 16
    docs = synth_docs(spark, n_docs=300, seed=7, vocab=64, num_partitions=4)
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        tick_seconds=1, topk_tiers=True, topk_k=k)
    pipe.run(docs)
    pts = docs_to_points(docs, tick_seconds=1)
    truth_rows = pts.groupBy(
        "doc_id", "source",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 3600).cast("long") * 3600
        ).alias("bin_ts"), "value",
    ).count().collect()
    want = {}
    for r in truth_rows:
        want.setdefault((r.doc_id, r.source, r.bin_ts), {})[r.value] = int(
            r["count"])

    got, errs = _by_bin(pipe.read_topk("1h"))
    _assert_mg_certificate(got, errs, want, k)

    pipe.compact_topk()
    first = _by_bin(pipe.read_topk("1h"))
    _assert_mg_certificate(first[0], first[1], want, k)

    # idempotent re-run of one batch: overwrite, not double-union — the
    # stored state must be EXACTLY what it was before the re-run
    pipe.run(docs, batches=[0])
    assert _by_bin(pipe.read_topk("1h")) == first


def test_topk_retention(spark, tmp_path):
    """apply_topk_retention: bins older than the cutoff drop, survivors
    are bit-identical, and the retention fold absorbs stream epochs so a
    replayed epoch after retention is skipped (never double-counted)."""
    import pandas as pd

    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs
    from gensor_spark.streaming.sketch_stream import make_sketch_sink

    k = 64
    docs = synth_docs(spark, n_docs=60, seed=5, vocab=32, num_partitions=4)
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, n_batches=2, tick_seconds=60,
                        topk_tiers=True, topk_k=k)
    pipe.run(docs)
    # one stream contribution too, so retention's fold has an epoch to absorb
    sink = make_sketch_sink(store, "topk", k=k)
    extra = docs_to_points(docs.limit(5), tick_seconds=60)
    sink(extra, 9)

    before = _by_bin(pipe.read_topk("1h"))
    bins = sorted({b for (_, _, b) in before[0]})
    mid = bins[len(bins) // 2]
    now = bins[-1] + pd.Timedelta("1h")
    cutoff = pipe.apply_topk_retention(str(now - mid), now=now)
    after = _by_bin(pipe.read_topk("1h"))
    cut = pd.Timestamp(cutoff)
    assert all(b >= cut for (_, _, b) in after[0])
    survivors = {key: v for key, v in before[0].items() if key[2] >= cut}
    assert 0 < len(after[0]) == len(survivors) < len(before[0])
    assert after[0] == survivors
    assert {key: e for key, e in before[1].items() if key[2] >= cut} == after[1]

    # replay of the absorbed stream epoch: skipped, state unchanged
    sink(extra, 9)
    assert _by_bin(pipe.read_topk("1h")) == after
    assert not (tmp_path / "store" / "tier_topk_1m" / "batch=s9").exists()


def test_registry_rollup_topk_runs(spark):
    from gensor_spark.queries import QUERIES

    out = QUERIES["rollup_topk"](spark, SF)
    pdf = out.toPandas()
    assert list(pdf.columns) == [
        "doc_id", "source", "bin_ts", "rank", "item", "cnt", "hi"]
    assert len(pdf) > 0
    assert (pdf["rank"].between(1, 3)).all()
    assert (pdf["hi"] >= pdf["cnt"]).all() and (pdf["cnt"] >= 1).all()


def test_plan_pure_catalyst(spark, synth):
    """The whole family is expressions + partial aggs: no Python eval, no
    window exchange, no join (input = the expression-only synth stream so
    the guard sees exactly the sketch's own plan)."""
    plan = cascade_topk(rollup_topk(synth, "1m", k=16), "1h", k=16) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
