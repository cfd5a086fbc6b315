"""Physical-plan regression guards (PLANS.md invariants).

Catch silent plan regressions: a quadratic window frame, a lost pushdown,
or an extra shuffle survives correctness tests but wrecks 100-TB behavior.
"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    from gensor_spark.queries import QUERIES

    return QUERIES


def test_no_unbounded_following_frames(spark, queries):
    """Spark evaluates 'CURRENT ROW AND UNBOUNDED FOLLOWING' frames
    quadratically (gapfill.py docstring) — they must never appear."""
    for name in ("gapfill", "smooth_rolling", "outliers_rolling"):
        plan = _plan(queries[name](spark, SF))
        assert "CURRENT ROW AND UNBOUNDED FOLLOWING" not in plan, name


def test_rollup_is_single_shuffle_two_phase(spark):
    from gensor_spark.queries import _q_rollup

    plan = _plan(_q_rollup("1h")(spark, SF))
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "partial_" in plan  # map-side combine present


def test_compensation_pushdown_and_broadcast(spark, queries):
    plan = _plan(queries["compensation_heads"](spark, SF))
    assert "EqualTo(event_type,click)" in plan  # filter reached the scan
    assert "BroadcastHashJoin" in plan          # baro side broadcast


def test_dense_grid_is_one_scan_without_join(spark, queries):
    """resample(dense=True) fills the grid from lead(bin_ts) over one
    repartition of the bin aggregate: no join, one events scan and at most
    two Exchanges (the bin aggregate's and the series-key repartition)."""
    plan = _plan(queries["resample_15min_dense"](spark, SF))
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_dense_grid_explode_sits_on_explicit_count_exchange(spark, queries):
    """The grid explode multiplies a few KB of bin aggregates into the full
    grid: the first Exchange below it must be an explicit-count
    repartition (REPARTITION_BY_NUM), which AQE never coalesces, or the
    explode and every per-series window above it collapse into one task."""
    plan = _plan(queries["resample_15min_dense"](spark, SF))
    below = plan[plan.index("Generate explode"):]
    assert "REPARTITION_BY_NUM" in re.search(r"Exchange [^\n]*", below).group(0)


def test_gapfill_two_exchanges_three_windows(spark, queries):
    """gapfill's fills reuse the grid's series-key partitioning: the grid's
    lead window plus one ascending and one descending fill window, no
    shuffle beyond the grid's two."""
    plan = _plan(queries["gapfill"](spark, SF))
    assert len(re.findall(r"\bExchange\b", plan)) <= 2
    assert len(re.findall(r"\bWindow \[", plan)) == 3


def test_column_pruning_on_narrow_query(spark, queries):
    # m4_downsample never touches seq, so the seq window's event_id
    # tie-break column must be pruned out of the scan entirely.
    # (coverage_info carried this guard until r4 — merging the trend into
    # it made seq, and therefore event_id, genuinely needed there.)
    plan = _plan(queries["m4_downsample"](spark, SF))
    read = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "props" not in read and "event_id" not in read


def test_catalog_select_broadcast_semi_join(spark, queries):
    """The filtered catalog is tiny and must broadcast; series selection is
    a LeftSemi back onto one events scan (sources/catalog.select_series)."""
    plan = _plan(queries["catalog_select"](spark, SF))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert "SortMergeJoin" not in plan


def test_ivf_kmeans_all_joins_broadcast(spark, queries):
    """Every join in the IVF path (centroid assignment, Lloyd mean merge,
    probe join) has an n_centroids-row side — none may fall to sort-merge."""
    plan = _plan(queries["ann_cosine_topk"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_no_row_python_udfs_anywhere(spark, queries):
    """Python may appear only as Arrow-batched stages (mapInPandas /
    ArrowEvalPython), never row-at-a-time BatchEvalPython."""
    for name, q in queries.items():
        plan = _plan(q(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_pack_chunks_prefix_sum_is_bucketed(spark, queries):
    """The packing prefix sum must run as the two-phase form: the row-level
    cumulative window partitions by the range bucket (full width); only the
    buckets-row offset table may use an unpartitioned window."""
    plan = _plan(queries["pack_chunks"](spark, SF))
    assert re.search(r"windowspecdefinition\(_bkt", plan)
    # the bucket-offset join must broadcast (B rows, never shuffled wide)
    assert "BroadcastHashJoin" in plan


def test_emb_lsh_scores_after_distinct(spark, queries):
    """neardup_pairs_lsh must distinct the (id_a, id_b) candidate set BEFORE
    computing cosine: the distinct aggregate's keys are the two ids alone —
    a `sim` column in the keys means pairs were scored once per shared
    bucket (up to LSH_TABLES×) and deduplicated after the fact."""
    plan = _plan(queries["emb_neardup"](spark, SF))
    distincts = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    cand = [k for k in distincts if "id_a" in k and "id_b" in k]
    assert cand, "candidate-distinct aggregate missing"
    assert all("sim" not in k for k in cand), "cosine computed before distinct"


def test_vocab_topk_is_take_ordered(spark, queries):
    """Top-k must compile to TakeOrderedAndProject (per-partition heaps),
    never a global Sort of the vocab table."""
    plan = _plan(queries["vocab_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_benchmark_broadcast(spark, queries):
    """The benchmark gram set is small by construction and must broadcast —
    the corpus side never shuffles on the gram key (decontaminate.py)."""
    plan = _plan(queries["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_asof_join_no_cartesian(spark, queries):
    """The bucketed as-of path is union + window + one tiny carry aggregate:
    no join may degenerate to a broadcast nested loop / cartesian product."""
    plan = _plan(queries["asof_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_r4_merged_slots_stay_jvm_side(spark, queries):
    """The r4-late merged branches (decomposition, bigram LM, CCF) are pure
    Catalyst: no row-Python and no cartesian may ever appear. (The MK rows
    in cusum_changepoint are a sanctioned ArrowEvalPython kernel — row-level
    BatchEvalPython is still banned there.)"""
    from gensor_spark.plans.caching import release_caches

    for name in ("seasonal_anomaly", "perplexity", "series_corr",
                 "cusum_changepoint"):
        plan = _plan(queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name != "perplexity":
            # perplexity's plan legitimately contains BNLJ: the broadcast
            # 1-ROW normalizer cross join (quality.py `crossJoin(norm)`) —
            # a single-row build side is the intended constant-fanout plan
            assert "BroadcastNestedLoopJoin" not in plan, name
        release_caches()


def test_series_corr_topk_broadcast_semi(spark, queries):
    """q_series_corr's top-coverage pre-selection must reach the events scan
    as a broadcast LeftSemi (the quadratic pair space is only realized over
    the 100 picked series), and the bin self-join must never be a nested
    loop."""
    plan = _plan(queries["series_corr"](spark, SF))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
