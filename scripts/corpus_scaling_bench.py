"""Corpus-pipeline scaling evidence: MinHash-LSH dedup at N vs 4N cores.

Companion to ``scaling_bench.py`` (which measures the tier rollup — the
north-rule job): this drives the flagship corpus operator end-to-end —
tokenize → shingle → MinHash signatures (xxhash64 production family) → LSH
banding → bucket join → exact-Jaccard verify — over a deterministic
synthetic text corpus, at local[8] and local[32], fresh JVM each,
min-of-N repeats.

The corpus derives from the same token generator as the tier job
(``sources.synth.synth_docs``): token ids render as ``w<id>`` words, so
the text is deterministic, zipf-skewed across sources, and contains real
near-duplicates (docs sharing zipf-frequent token runs).

Usage:
    python scripts/corpus_scaling_bench.py [--docs N] [--repeats R]
    python scripts/corpus_scaling_bench.py --runner <docs_dir> <cpus> <reps>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DEFAULT_DOCS = 120_000
WORK = Path(os.environ.get("SPARK_GRAFT_CORPUS_DIR", "/tmp/corpus_bench"))


def prepare(n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from gensor_spark.session import get_spark
    from gensor_spark.sources.synth import synth_docs

    spark = get_spark(app_name="corpus_prepare", master="local[32]",
                      shuffle_partitions=32)
    out = WORK / "docs"
    shutil.rmtree(out, ignore_errors=True)
    toks = synth_docs(spark, n_docs=n_docs, seed=43, min_tok=16, max_tok=256,
                      num_partitions=64)
    base = toks.select(
        "doc_id", "source",
        F.regexp_extract("doc_id", r"(\d+)", 1).cast("long").alias("_num"),
        F.array_join(
            F.transform("tokens", lambda t: F.concat(F.lit("w"),
                                                     t.cast("string"))),
            " ",
        ).alias("text"),
    )
    # plant near-duplicates so the verify stage does real work: every doc
    # with _num % 29 == 7 replaces its text with its predecessor's plus one
    # extra token — a high-Jaccard pair per planted doc (~3.4% of corpus)
    donors = base.select(
        (F.col("_num") + 1).alias("_num"),
        F.concat(F.col("text"), F.lit(" wdup")).alias("_dup_text"),
    )
    docs = (
        base.join(donors, "_num", "left")
        .select(
            "doc_id", "source",
            F.when(
                (F.col("_num") % 29 == 7) & F.col("_dup_text").isNotNull(),
                F.col("_dup_text"),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(str(out))
    n = spark.read.parquet(str(out)).count()
    spark.stop()
    return {"docs": n, "dir": str(out)}


def runner(docs_dir: str, cpus: int, repeats: int) -> None:
    from gensor_spark.operators.dedup import minhash_dedup_pairs
    from gensor_spark.plans.caching import cache_scope
    from gensor_spark.session import get_spark

    spark = get_spark(app_name=f"corpus_run_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    docs = spark.read.parquet(docs_dir)
    docs.limit(100).count()  # warm: JIT + footers, outside the timed window
    walls, pairs = [], 0
    for _ in range(repeats):
        with cache_scope():  # releases the op's band and shingle caches
            t0 = time.perf_counter()
            out = minhash_dedup_pairs(docs, threshold=0.5, base_hash="xxhash64")
            pairs = out.count()
            walls.append(round(time.perf_counter() - t0, 2))
    print(json.dumps({"cpus": cpus, "wall_s": min(walls), "walls": walls,
                      "pairs": pairs}))


def main() -> None:
    if "--runner" in sys.argv:
        i = sys.argv.index("--runner")
        runner(sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3]))
        return
    n_docs = DEFAULT_DOCS
    if "--docs" in sys.argv:
        n_docs = int(sys.argv[sys.argv.index("--docs") + 1])
    repeats = 2
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])

    WORK.mkdir(parents=True, exist_ok=True)
    if "--skip-prepare" in sys.argv and (WORK / "docs" / "_SUCCESS").exists():
        import duckdb

        n = duckdb.connect().execute(
            f"SELECT count(*) FROM '{WORK}/docs/*.parquet'").fetchone()[0]
        meta = {"docs": n, "dir": str(WORK / "docs")}
    else:
        meta = prepare(n_docs)
    print(f"prepared {meta['docs']} docs", file=sys.stderr)

    results = {}
    for cpus in (4, 8, 16, 32):
        out = subprocess.run(
            [sys.executable, __file__, "--runner", meta["dir"], str(cpus),
             str(repeats)],
            capture_output=True, text=True, check=True, cwd=str(REPO),
        )
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"local[{cpus}]: {results[cpus]['wall_s']}s", file=sys.stderr)

    thr = {c: meta["docs"] / r["wall_s"] for c, r in results.items()}
    summary = {
        "input_docs": meta["docs"],
        "pairs": results[32]["pairs"],
        "wall_s": {c: r["wall_s"] for c, r in results.items()},
        "docs_per_sec": {c: round(t, 1) for c, t in thr.items()},
        "efficiency_4_to_16": round((thr[16] / thr[4]) / 4, 3),
        "efficiency_8_to_32": round((thr[32] / thr[8]) / 4, 3),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
