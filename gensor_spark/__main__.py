"""spark-submit job entrypoint (north rule: ships as --py-files package).

Usage (cluster)::

    python scripts/make_package.py dist/
    spark-submit --py-files dist/gensor_spark.zip dist/job.py \
        --docs /path/to/docs_parquet --store /path/to/tier_store

Usage (sandbox)::

    python -m gensor_spark --synth-docs 1000 --store /tmp/tiers --master 'local[8]'

Runs the incremental tier pipeline (1m→1h→1d continuous aggregates with
checkpoint ledger + lineage) over a docs table of the mandated shape
``(doc_id string, tokens array<int>, n_tok int, source string)``, then
prints per-tier row counts and the lineage tail as JSON.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="gensor_spark")
    ap.add_argument("--docs", help="parquet path of the docs table")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="synthesize N deterministic docs instead of --docs")
    ap.add_argument("--store", required=True, help="tier store directory")
    ap.add_argument("--master", default="cluster",
                    help="'cluster' (default, spark-submit decides) or local[N]")
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--tick", type=int, default=60,
                    help="seconds per token tick in the point view")
    ap.add_argument("--hist-tiers", action="store_true",
                    help="also maintain exact-percentile histogram partials")
    ap.add_argument("--distinct-tiers", action="store_true",
                    help="also maintain HLL distinct-count sketch partials")
    ap.add_argument("--topk-tiers", action="store_true",
                    help="also maintain Misra-Gries top-k summary partials")
    ap.add_argument("--topk-k", type=int, default=32,
                    help="counters per Misra-Gries summary (with --topk-tiers)")
    ap.add_argument("--cms-tiers", action="store_true",
                    help="also maintain Count-Min frequency counter partials")
    ap.add_argument("--var-tiers", action="store_true",
                    help="also carry the sum-of-squares variance partial "
                         "(read_tier then emits var/std per bin)")
    ap.add_argument("--ohlc-tiers", action="store_true",
                    help="also carry the first/first_ts pair (read_tier then "
                         "emits the OHLC open alongside min/max/last)")
    ap.add_argument("--moment-tiers", action="store_true",
                    help="also carry Σx³/Σx⁴ moment partials (read_tier then "
                         "emits per-bin skew/kurt)")
    args = ap.parse_args(argv)

    from gensor_spark.plans.incremental import TIERS, TierPipeline
    from gensor_spark.session import get_spark

    spark = get_spark(app_name="gensor_spark_job", master=args.master)
    try:
        if args.synth_docs:
            from gensor_spark.sources.synth import synth_docs

            docs = synth_docs(spark, n_docs=args.synth_docs, seed=42)
        elif args.docs:
            docs = spark.read.parquet(args.docs)
        else:
            ap.error("one of --docs or --synth-docs is required")

        pipe = TierPipeline(spark, args.store, n_batches=args.batches,
                            tick_seconds=args.tick, hist_tiers=args.hist_tiers,
                            distinct_tiers=args.distinct_tiers,
                            topk_tiers=args.topk_tiers, topk_k=args.topk_k,
                            cms_tiers=args.cms_tiers,
                            var_tiers=args.var_tiers,
                            ohlc_tiers=args.ohlc_tiers,
                            moment_tiers=args.moment_tiers)
        stats = pipe.run(docs)
        result = {
            "stats": stats,
            "tiers": {t: pipe.read_tier(t).count() for t in TIERS},
            "lineage_tail": pipe.lineage()[-3:],
        }
        if args.hist_tiers:
            result["hist_1h_bins"] = pipe.read_hist_quantiles("1h").count()
        if args.distinct_tiers:
            result["distinct_1h_bins"] = pipe.read_distinct("1h").count()
        if args.topk_tiers:
            result["topk_1h_rows"] = pipe.read_topk("1h").count()
        json.dump(result, sys.stdout)
        print()
    finally:
        # an unstopped session is torn down by the JVM's shutdown hooks,
        # where a local-cluster master still tries to launch executors
        spark.stop()


if __name__ == "__main__":
    main()
