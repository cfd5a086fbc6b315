"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <ingest|serve|series> \\
        --seed <n> --seconds <s> --trace <0|1>

Runs from any working directory: it finds the engine next to this
directory and puts it on the Python workers' path. The session is the
engine's own ``get_spark`` at ``local[nproc]``; the master, and in the
traced run the event-log settings, are the only settings it passes.
Scratch files go to ``.perfbench/run-<pid>/`` at the repository root
and are removed at exit; a traced run leaves its spans in
``.perfbench/spans-<workload>-<seed>.json``.

With ``--trace 0`` the last line carries the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the event log is on, the timed
units run untraced, traced and untraced again (the untraced passes are the
baseline of the tracing overhead), and the last line carries the per-layer
metrics of the traced pass. The exit code is
non-zero when any operation failed or any output check did not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: layer of each per-layer metric prefix, for the printed table
LAYERS = {
    "session": "session", "sources": "sources", "rollup": "operators.rollup",
    "pycross": "python crossing", "gorilla": "codecs.gorilla",
    "incremental": "plans.incremental", "caching": "plans.caching",
    "exec": "spark engine", "shuffle": "spark engine", "driver": "driver",
    "queries": "queries", "series": "queries",
    "trace": "tracing",
}


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def prepare_env(work: Path) -> None:
    """Keep every file the engine writes inside ``work`` and let Python
    workers import the engine from any working directory."""
    for d in ("tmp", "local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.chdir(work)


class Run:
    """What a workload needs from the harness."""

    def __init__(self, spark, tracer, work: Path, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds

    def span(self, name: str):
        return self.tracer.span(name)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    from proc import descendants_rss

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30  # Python workers follow the JVM out
    while descendants_rss(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def layer_metrics(wl, tracer, log_path: Path, start_s: float) -> dict[str, float]:
    """Per-layer numbers, per unit of work, from the spans and event log."""
    from spans import EventLog

    spans = tracer.spans
    log = EventLog(log_path, spans)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)

    def under(*names: str) -> set[int]:
        todo = [s.id for s in spans if s.name in names]
        out: set[int] = set()
        while todo:
            i = todo.pop()
            out.add(i)
            todo += children.get(i, [])
        return out

    units = max(wl.units, 1)
    tot = log.total(under(wl.unit_span))
    m = {k: (v if k.endswith("peak_mem_mb") else v / units) for k, v in tot.items()}
    m["session.start_s"] = start_s
    py = sum(m.get(k, 0.0) for k in ("pycross.boot_ms", "pycross.init_ms",
                                     "pycross.run_ms"))
    m["pycross.run_share"] = m.get("pycross.run_ms", 0.0) / py if py else 0.0
    if wl.name == "ingest":
        run_w = log.total(under("incremental.run"))
        comp = log.total(under("incremental.compact"))
        comp_s = [s.end - s.start for s in spans if s.name == "incremental.compact"]
        m.update({
            "incremental.files_written": run_w["write.files"] / units,
            "incremental.bytes_written": run_w["write.bytes"] / units,
            "incremental.compact_s": sum(comp_s),
            "incremental.compact_bytes_rewritten": comp["write.bytes"],
        })
    if wl.name == "serve":
        m["incremental.files_listed_per_read"] = (
            m.get("sources.files_read", 0.0) / len(wl.KINDS))
    m.update(wl.layer)
    return m


def print_table(title: str, rows) -> None:
    print(f"\n{title}")
    for r in rows:
        print("  " + "  ".join(f"{c:<56}" if i == 0 else f"{c:>16}"
                               for i, c in enumerate(r)).rstrip())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "gensor_spark" / "__init__.py").is_file():
        print(f"perfbench: no gensor_spark package in {ROOT}", file=sys.stderr)
        return 2
    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    for stale in (ROOT / ".perfbench").glob("run-*"):
        if not Path("/proc", stale.name[4:]).exists():  # its run was killed
            shutil.rmtree(stale, ignore_errors=True)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        return bench_run(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_run(args, bench: dict, work: Path) -> int:
    traced = bool(args.trace)
    prepare_env(work)

    from proc import PeakRss
    from spans import Tracer, find_event_log
    from workloads import WORKLOADS, median

    nproc = len(os.sched_getaffinity(0))
    conf = None
    if traced:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    rss = PeakRss().start()
    t0 = time.perf_counter()
    from gensor_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{nproc}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(spark, tracer, work, args.seed, args.seconds)
    wl = WORKLOADS[args.workload](run)
    try:
        setup_walls = []
        for rep in range(wl.setup_repeats):
            t = time.perf_counter()
            wl.setup(rep)
            setup_walls.append(time.perf_counter() - t)
        phases = {"start": start_s, "setup": sum(setup_walls)}
        t = time.perf_counter()
        wl.warm()
        phases["warm"] = time.perf_counter() - t
        untraced_ms = []
        if traced:
            # untraced, traced, untraced: the mean of the untraced walls is
            # the baseline of the overhead, free of any drift that is linear
            # in time (such as warm-up still fading)
            wl.measure()
            untraced_ms.append(wl.wall_ms())
            wl.reset()
        tracer.recording = traced
        t = time.perf_counter()
        wl.measure()
        phases["measure"] = time.perf_counter() - t
        tracer.recording = False
        if traced:
            traced_units = wl.reset()
            wl.measure()
            untraced_ms.append(wl.wall_ms())
            vars(wl).update(traced_units)  # report the traced units
    finally:
        spark_version = spark.version
        t = time.perf_counter()
        stop_spark(spark)
        rss.stop()
    phases["stop"] = time.perf_counter() - t

    failed = min(wl.failed, wl.attempted)
    e2e = {
        "setup_s": start_s + median(setup_walls),
        "peak_rss_mb": rss.peak_mb,
        "wall_ms": wl.wall_ms(),
        "cpu_ms": wl.cpu_ms(),
    }
    print(f"perfbench {args.workload}: seed {args.seed}, local[{nproc}], "
          f"Spark {spark_version}, {wl.units} units of work timed")
    print("phase walls: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    named = {"setup_s": (e2e["setup_s"], "s"), "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
             "wall_ms": (e2e["wall_ms"], "ms"), "cpu_ms": (e2e["cpu_ms"], "ms"),
             **wl.named,
             "ops_failed_share": (failed / max(wl.attempted, 1), "ratio")}
    print_table("end to end", [(k, f"{v:.6g}", u) for k, (v, u) in named.items()])
    print_table("measured by the workload itself", [
        (k, f"{v:.6g}") for k, v in sorted(wl.layer.items())])

    if traced:
        log_path = find_event_log(work / "eventlog")
        tracer.write(ROOT / ".perfbench" / f"spans-{args.workload}-{args.seed}.json")
        lm = layer_metrics(wl, tracer, log_path, start_s)
        base_ms = statistics.fmean(untraced_ms)
        lm["trace.overhead_share"] = e2e["wall_ms"] / base_ms - 1
        metrics = {m["name"]: {"value": float(lm.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        print_table("tracing overhead: wall_ms traced, untraced before and after "
                    "(same session)", [
            ("wall_ms", f"{e2e['wall_ms']:.6g}",
             *(f"{ms:.6g}" for ms in untraced_ms))])
        rows = sorted(metrics.items(), key=lambda kv: LAYERS.get(kv[0].split(".")[0], ""))
        print_table(f"per layer, per unit of work ({args.workload})", [
            (f"{LAYERS.get(k.split('.')[0], '?')}: {k}", f"{v['value']:.6g}", v["unit"])
            for k, v in rows])
        print_table("spans: count, total s, self s", [
            (name, str(c), f"{tot:.3f}", f"{own:.3f}")
            for name, (c, tot, own) in sorted(tracer.self_times().items())])
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
