"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"rollup_1m": sec, ...}, "sf": 0.1,
     "points_per_sec": N, "rolled_points": N, "cpus": N}

The primary BASELINE.json metric is "rolled-up points/sec across 1m/1h/1d
retention tiers": here ``rolled_points`` = total output rows of the three tier
rollups and ``points_per_sec`` = rolled_points / (t_1m + t_1h + t_1d).

Each query is materialized with the ``noop`` sink — full execution of the
plan on the executors, nothing collected to the driver. Scaling-efficiency
evidence (local[8] vs local[32]) is produced by ``scripts/scaling_bench.py``
and recorded in ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

TIER_QUERIES = ("rollup_1m", "rollup_1h", "rollup_1d")


def _materialize(df) -> int:
    """Run the full plan on the executors; return output row count."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def run_bench(sf_dir: str, cpus: int, queries_subset: list[str] | None = None) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from gensor_spark.plans.caching import cache_scope
    from gensor_spark.queries import QUERIES
    from gensor_spark.session import get_spark

    spark = get_spark(app_name=f"bench_local{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    # warm up the JVM + parquet footer cache so query 1 isn't charged for it
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    # the driver registry folds the three tiers into one correctness entry
    # (rollup_tiers); the bench keeps timing them individually — the
    # headline metric is per-tier throughput
    from gensor_spark.queries import _q_rollup

    bench_queries = dict(QUERIES)
    if "rollup_tiers" in bench_queries:
        del bench_queries["rollup_tiers"]
        bench_queries = {
            "rollup_1m": _q_rollup("1m"),
            "rollup_1h": _q_rollup("1h"),
            "rollup_1d": _q_rollup("1d"),
            **bench_queries,
        }

    # bench-only variant (no driver slot): IVF with the production
    # modulus-sampled Lloyd training — quantifies the k-means cost the
    # exact-oracle query (train_fraction=1.0) pays for bit-exactness
    def _ivf_sampled(spark_, sf_dir_):
        from pyspark.sql import functions as F

        from gensor_spark.operators import similarity as S
        from gensor_spark.queries_text import _emb

        return S.ivf_topk(_emb(spark_, sf_dir_), k=5, n_queries=10,
                          n_centroids=16, n_probe=4,
                          train_fraction=0.25).select(
            "query_id", "cand_id", "rank", F.round("sim", 6).alias("sim"))

    bench_queries["ann_ivf_topk_t25"] = _ivf_sampled

    names = queries_subset or list(bench_queries)
    unknown = [n for n in names if n not in bench_queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; available: {sorted(bench_queries)}")
    timings: dict[str, float] = {}
    rolled_points = 0
    for name in names:
        q = bench_queries[name]
        # construction happens INSIDE the timed window: iterative operators
        # (dup_clusters) run distributed jobs while building their result
        # the query's pooled caches (LSH band tables, shingle indexes,
        # token counts) are released when its scope exits, after the
        # action: a full bench run's executor storage stays flat
        with cache_scope():
            t0 = time.perf_counter()
            df = q(spark, sf_dir)
            if name in TIER_QUERIES:
                # the primary metric needs output cardinality: count()
                # executes the identical aggregation plan (no pruning past
                # the groupBy)
                rolled_points += df.count()
            else:
                _materialize(df)
            timings[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr, flush=True)

    # at-scale tier throughput: the sf0.1 events tiers are so small that
    # their timing is pure overhead; this probe runs the affine-ts rollup
    # kernel over a deterministic synthetic token table large enough to
    # measure real points/sec (generation fused into the same job; total
    # points read back from the partials' sum(cnt))
    scale = {}
    if queries_subset is None:
        from pyspark.sql import functions as F

        from gensor_spark.operators.rollup import rollup_docs_arrow
        from gensor_spark.sources.synth import synth_docs

        docs = synth_docs(spark, n_docs=200_000, seed=42, hot_fraction=0.02,
                          hot_factor=20, num_partitions=cpus * 8)
        t0 = time.perf_counter()
        row = (
            rollup_docs_arrow(docs, "1m", tick_seconds=1)
            .agg(F.sum("cnt").alias("pts"), F.count("*").alias("bins"))
            .collect()[0]
        )
        dt = time.perf_counter() - t0
        scale = {
            "scale_points": int(row.pts),
            "scale_rolled_bins": int(row.bins),
            "scale_sec": round(dt, 2),
            "scale_points_per_sec": round(row.pts / dt, 1),
        }

    tier_sec = sum(timings[n] for n in TIER_QUERIES if n in timings)
    total_sec = sum(timings.values())
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    # host-weather stamp: this VM's memory bandwidth intermittently
    # collapses 10-100x (scripts/hostcheck.py; BENCH/BASELINE.md r3) —
    # triad < ~5 GB/s means the walls above measured the host, not the
    # engine. Recorded so a degraded bench is distinguishable from a slow one.
    try:
        from scripts.hostcheck import triad_gbps

        host_triad = triad_gbps(n=20_000_000, repeats=2)
    except Exception:
        host_triad = None
    # Spark-shaped control: the box has a SECOND degradation mode that the
    # numpy/ALU probes miss — JVM shuffle+sort+window throughput drops 5-8×
    # while triad/spin read healthy (r3: the unmodified r2 checkout replayed
    # 62s on work it recorded at 9.4s, with 186 GB/s triad@32). This fixed
    # window job (same physical profile as the window-chain queries) is the
    # within-JVM yardstick: walls above should be read relative to it.
    try:
        t0 = time.perf_counter()
        (
            spark.range(8_000_000)
            .selectExpr("id % 997 AS k", "id", "cast(id % 10007 as double) AS v")
            .selectExpr(
                "k", "v",
                "sum(v) OVER (PARTITION BY k ORDER BY id "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs",
            )
            .write.format("noop").mode("overwrite").save()
        )
        window_probe = round(time.perf_counter() - t0, 3)
    except Exception:
        window_probe = None
    # post-run Python-worker yardstick (workers warm by now: this reads the
    # steady-state crossing cost the Arrow-kernel walls above were paying)
    try:
        t0 = time.perf_counter()
        spark.range(0, cpus * 100, 1, cpus).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode(
            "overwrite").save()
        pyworker_post = round(time.perf_counter() - t0, 3)
    except Exception:
        pyworker_post = None
    return {
        "metric": "total_query_sec",
        "value": round(total_sec, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rolled_points": rolled_points,
        "tier_sec": round(tier_sec, 3),
        "points_per_sec": round(rolled_points / tier_sec, 1) if tier_sec else None,
        "cpus": cpus,
        "host_triad_gbps": host_triad,
        "window_probe_sec": window_probe,
        "pyworker_post_sec": pyworker_post,
        **scale,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    subset = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    result = run_bench(sf_dir, cpus, subset)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
