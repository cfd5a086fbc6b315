"""N-vs-4N scaling-efficiency evidence (north rule, sandbox proxy).

The rule demands ≥0.8 throughput scaling efficiency from N to 4N executors.
No real cluster exists here, so the sanctioned proxy is: the SAME job on the
SAME input at two parallelism levels — ``local[8]`` vs ``local[32]`` — each
in a fresh JVM, reporting rolled-up points/sec at both and

    efficiency = (throughput@32 / throughput@8) / 4.

The job is the production code path: ``TierPipeline.run`` (scan parquet docs
→ posexplode point view → 1m rollup → 1h/1d cascade, with checkpoint ledger
and lineage rows), against a deterministic synthetic docs table with
hot-series skew (sources zipf-distributed, 2% of docs 20× longer).

Usage:
    python scripts/scaling_bench.py            # full run, writes BENCH file
    python scripts/scaling_bench.py --docs N   # size override
    python scripts/scaling_bench.py --runner <dir> <cpus>   # internal
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

DEFAULT_DOCS = 2_400_000  # ~870M points: after the arrow-kernel rollup and
# fast codec, smaller inputs finish so quickly that per-job fixed costs
# (scheduling, commits) flatten the ratio — size the work, not the clock
WORK = Path(os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scale_bench"))


def prepare(n_docs: int) -> dict:
    from gensor_spark.session import get_spark
    from gensor_spark.sources.synth import synth_docs

    spark = get_spark(app_name="scale_prepare", master="local[32]",
                      shuffle_partitions=32)
    docs_dir = WORK / "docs"
    shutil.rmtree(docs_dir, ignore_errors=True)
    # 256 output files: parquet files this small are one row-group each and
    # therefore unsplittable, so the file count IS the task granularity.
    # 64 files at local[32] = 2 task waves → the slowest (hot-doc-heavy)
    # split becomes the stage tail (measured ~45% idle CPU). 256 files give
    # every parallelism level ≥ 8 waves to amortize skew — the same rule as
    # "≥ 4 splits per core" on a real cluster.
    docs = synth_docs(spark, n_docs=n_docs, seed=42, hot_fraction=0.02,
                      hot_factor=20, num_partitions=256)
    docs.write.mode("overwrite").parquet(str(docs_dir))
    from pyspark.sql import functions as F

    row = spark.read.parquet(str(docs_dir)).agg(
        F.count("*").alias("docs"), F.sum("n_tok").alias("points")
    ).collect()[0]
    spark.stop()
    return {"docs": row.docs, "points": row.points, "dir": str(docs_dir)}


def runner(docs_dir: str, cpus: int, repeats: int = 1) -> None:
    """Timed job(s) in this JVM; prints a JSON line with min + all walls.

    Repeats share the JVM (JIT-warm) but each reprocesses from a clean
    store; min-of-N is reported because stop-the-world GC timing makes
    individual runs noisy (±40% observed) while the minimum is stable.
    """
    # Batch-pipeline profile: AQE partition coalescing ON, the session
    # default. The tier pipeline's post-shuffle partitions are tiny
    # compressed numeric rows and its concurrent batches contend for task
    # slots: merging the tiny stages frees slots for the heavy kernel stages.
    # Measured on the 873M-point input: ON is ~13% faster at local[32]
    # (18.5s vs 21.2s) and ~6% slower at local[4] — the wide end is what a
    # 1000-executor deployment runs at, so ON is this job's production
    # setting (applied uniformly to every level; the efficiency ratio
    # compares like with like).

    from gensor_spark.plans.incremental import TIERS, TierPipeline
    from gensor_spark.session import get_spark

    extra = {}
    codec = os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC")
    if codec:
        # zstd halves shuffle bytes vs lz4 on these numeric rows — less
        # memory-bus traffic per row at the bandwidth-saturated wide levels
        extra["spark.io.compression.codec"] = codec
    spark = get_spark(app_name=f"scale_run_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=extra)
    store = WORK / f"store_{cpus}"
    docs = spark.read.parquet(docs_dir)
    # warm up: JVM JIT + parquet footers, outside the timed window
    docs.limit(1000).count()
    walls = []
    rolled = {}
    for _ in range(repeats):
        shutil.rmtree(store, ignore_errors=True)
        # tick=1s → the 1m tier aggregates 60 points per bin (a real 60:1
        # reduction). encode_blobs: the full north-star job includes the
        # Gorilla/DoD compression stage (Arrow-UDF numpy kernels).
        pipe = TierPipeline(spark, str(store), n_batches=2, tick_seconds=1,
                            encode_blobs=True)
        t0 = time.perf_counter()
        pipe.run(docs)
        walls.append(round(time.perf_counter() - t0, 2))
        rolled = {t: pipe.read_tier(t, finalize=False).count() for t in TIERS}
    print(json.dumps({"cpus": cpus, "wall_s": min(walls), "walls": walls,
                      "rolled_rows": rolled}))


def _triad_worker(n: int) -> float:
    """One process of the multithreaded STREAM-triad control: GB/s touched."""
    import numpy as np

    a = np.ones(n, dtype=np.float64)
    t0 = time.perf_counter()
    b = a * 1.000001
    dt = time.perf_counter() - t0
    del b
    return 3 * a.nbytes / dt / 1e9


def _spin_worker(dur: float) -> float:
    t0 = time.perf_counter()
    c = 0
    while time.perf_counter() - t0 < dur:
        c += 1
    return c / dur / 1e6


def controls(cpus: int, repeats: int = 3) -> dict:
    """Hardware-achievable scaling controls at this parallelism level.

    - ``triad_gbps``: aggregate memory bandwidth with ``cpus`` concurrent
      triad streams — what a pure bandwidth-bound workload could scale to.
    - ``spin_mops``: aggregate register-bound throughput with ``cpus``
      spinning processes — what a pure ALU-bound workload could scale to.
    Max-of-``repeats`` for both (transient host contention only ever
    subtracts — see scripts/hostcheck.py).
    """
    import multiprocessing as mp

    best_triad, best_spin = 0.0, 0.0
    with mp.Pool(cpus) as pool:
        for _ in range(repeats):
            per = pool.map(_triad_worker, [12_000_000] * cpus)  # ~96MB each
            best_triad = max(best_triad, sum(per))
        for _ in range(repeats):
            per = pool.map(_spin_worker, [1.0] * cpus)
            best_spin = max(best_spin, sum(per))
    return {"triad_gbps": round(best_triad, 1), "spin_mops": round(best_spin, 1)}


def _hostcheck() -> dict:
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "hostcheck.py"), "--quick"],
        capture_output=True, text=True, cwd=str(REPO),
    )
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])
    except Exception:
        return {"error": out.stderr[-200:]}


def main() -> None:
    if "--runner" in sys.argv:
        i = sys.argv.index("--runner")
        reps = int(sys.argv[i + 3]) if len(sys.argv) > i + 3 else 1
        runner(sys.argv[i + 1], int(sys.argv[i + 2]), reps)
        return
    n_docs = DEFAULT_DOCS
    if "--docs" in sys.argv:
        n_docs = int(sys.argv[sys.argv.index("--docs") + 1])
    repeats = 3
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    if "--zstd" in sys.argv:
        os.environ["SPARK_GRAFT_SHUFFLE_CODEC"] = "zstd"

    WORK.mkdir(parents=True, exist_ok=True)
    if "--skip-prepare" in sys.argv and (WORK / "docs" / "_SUCCESS").exists():
        import duckdb

        con = duckdb.connect()
        row = con.execute(
            f"SELECT count(*), sum(n_tok) FROM '{WORK}/docs/*.parquet'"
        ).fetchone()
        meta = {"docs": row[0], "points": int(row[1]), "dir": str(WORK / "docs")}
    else:
        meta = prepare(n_docs)
    print(f"prepared {meta['docs']} docs / {meta['points']} points", file=sys.stderr)

    host_before = _hostcheck()
    print(f"hostcheck before: {host_before}", file=sys.stderr)

    results = {}
    ctrl = {}
    levels = (4, 8, 16, 32)
    if "--pair" in sys.argv:  # quick mode: just the 8→32 pair
        levels = (8, 32)
    if "--pair416" in sys.argv:  # quick mode: just the 4→16 pair
        levels = (4, 16)
    for cpus in levels:
        ctrl[cpus] = controls(cpus)
        print(f"controls[{cpus}]: {ctrl[cpus]}", file=sys.stderr)
        out = subprocess.run(
            [sys.executable, __file__, "--runner", meta["dir"], str(cpus),
             str(repeats)],
            capture_output=True, text=True, check=True, cwd=str(REPO),
        )
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"local[{cpus}]: {results[cpus]['wall_s']}s "
              f"(all: {results[cpus]['walls']})", file=sys.stderr)

    host_after = _hostcheck()
    print(f"hostcheck after: {host_after}", file=sys.stderr)

    thr = {c: meta["points"] / r["wall_s"] for c, r in results.items()}

    def pair(a, b):
        if a not in thr or b not in thr:
            return None
        raw = thr[b] / thr[a]
        bw = ctrl[b]["triad_gbps"] / ctrl[a]["triad_gbps"]
        cpu = ctrl[b]["spin_mops"] / ctrl[a]["spin_mops"]
        return {
            "raw_ratio": round(raw, 3),
            "efficiency": round(raw / 4, 3),
            # measured hardware-achievable ratios at these two thread counts
            "bandwidth_achievable_ratio": round(bw, 3),
            "cpu_achievable_ratio": round(cpu, 3),
            # engine throughput ratio as a fraction of what a PURE
            # bandwidth-bound workload could reach on this box (≥0.8 = the
            # engine extracts ≥80% of the memory system's own scaling)
            "vs_bandwidth_achievable": round(raw / bw, 3) if bw else None,
            "vs_cpu_achievable": round(raw / cpu, 3) if cpu else None,
        }

    summary = {
        "input_docs": meta["docs"],
        "input_points": meta["points"],
        "shuffle_codec": os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"),
        "wall_s": {c: r["wall_s"] for c, r in results.items()},
        "walls_all": {c: r["walls"] for c, r in results.items()},
        "points_per_sec": {c: round(t, 1) for c, t in thr.items()},
        "controls": ctrl,
        "pair_4_16": pair(4, 16),
        "pair_8_32": pair(8, 32),
        "rolled_rows": results[max(levels)]["rolled_rows"],
        "hostcheck_before": host_before,
        "hostcheck_after": host_after,
    }
    print(json.dumps(summary))
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    # machine-readable record per run; BASELINE.md is curated by hand from it
    tag = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    (bench_dir / f"scaling_{tag}.json").write_text(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
