"""The workloads. Each is a closed loop driven by one driver thread.

A workload has three phases:

- ``setup``: generate the seeded inputs, write them to parquet and build
  any store the workload reads. Timed as ``setup_s`` (several repetitions,
  median reported).
- ``warm``: an untimed pass, so JIT, codegen and Python workers are warm
  before timing. ``serve`` and ``series`` check what it returns.
- ``measure``: repeat the workload's unit of work for about ``--seconds``
  (``timed_loop``), then check what the timed units produced.

Every call into an engine layer goes through ``run.span(name)``, which in
the traced run records a span and sets the Spark job group.
"""

from __future__ import annotations

import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import inputs
from proc import engine_cpu_s
from reference import TierReference, digest, row_line, value_hash

TICK_S = 1  # one point per second: a 1m bin holds 60 points


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    return float(np.quantile(np.asarray(xs, dtype=float), q))


def tree_bytes(path: Path) -> int:
    """Bytes of data files under ``path`` (no checksums or markers)."""
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith((".", "_")))


class Workload:
    """Shared bookkeeping: operation counts, checks and reported numbers."""

    name = ""
    #: how many times ``setup`` is repeated for the ``setup_s`` median
    setup_repeats = 3

    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.spark
        self.attempted = 0
        self.failed = 0
        self.units = 0  # units of work in the timed region
        self.unit_walls: list[float] = []
        self.unit_cpu: list[float] = []  # engine CPU seconds per unit
        #: the workload's own named end-to-end numbers: name → (value, unit)
        self.named: dict[str, tuple[float, str]] = {}
        #: per-layer numbers this workload measures itself
        self.layer: dict[str, float] = {}

    # -- accounting -----------------------------------------------------

    def op(self, fn, *args, **kw):
        """Run one operation; an exception counts it failed and returns
        None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            self.failed += 1
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """A failed check marks one operation failed."""
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED [{self.name}] {what} {detail}", flush=True)

    #: the timed region runs at least this many units of work
    min_units = 1
    #: the span around one unit of work; per-layer sums are taken under it
    unit_span = ""

    def timed_loop(self, body) -> None:
        """Call ``body`` ``min_units`` times, then again while another
        call of the mean length so far still ends within ``--seconds``."""
        t0 = time.perf_counter()
        while True:
            body()
            self.units += 1
            el = time.perf_counter() - t0
            if self.units >= self.min_units and el + el / self.units > self.run.seconds:
                break

    def reset(self) -> dict:
        """Forget the timed units, to measure again. Returns what it forgot,
        which ``vars(workload).update`` puts back."""
        old = {k: getattr(self, k)
               for k in ("units", "unit_walls", "unit_cpu", "named", "layer")}
        self.units = 0
        self.unit_walls = []
        self.unit_cpu = []
        self.named = {}
        self.layer = {}
        return old

    # -- phases ---------------------------------------------------------

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def wall_ms(self) -> float:
        """Median wall of one unit of work, in ms."""
        return 1000.0 * median(self.unit_walls)

    def cpu_ms(self) -> float:
        """Mean engine CPU (JVM and Python workers) per unit of work, in ms."""
        return 1000.0 * statistics.fmean(self.unit_cpu)


# ===================================================================== ingest


class Ingest(Workload):
    """Writes: ``TierPipeline.run`` over a docs table is the unit of work.
    After the timed runs, a late wave, compaction of the 1m tier and
    retention run once on the last store."""

    name = "ingest"
    N_DOCS = 1000
    N_BATCHES = 2
    min_units = 2
    unit_span = "incremental.run"
    RETENTION = {"1m": "115 minutes"}
    RETENTION_NOW = "2024-01-01 02:00:00"  # 1m cutoff: 00:05 on day one

    def setup(self, rep: int) -> None:
        w = self.run.work / f"ingest_in_{rep}"
        shutil.rmtree(w, ignore_errors=True)
        self.docs = inputs.make_docs(self.run.seed, self.N_DOCS)
        self.docs.write(w / "docs")
        self.wave = inputs.make_late_wave(self.run.seed, self.docs)
        (w / "wave").mkdir()
        pq.write_table(self.wave.table(self.docs), w / "wave" / "part-0.parquet")
        self.in_dir = w

    def _frames(self):
        return (self.spark.read.parquet(str(self.in_dir / "docs")),
                self.spark.read.parquet(str(self.in_dir / "wave")))

    def _pipeline(self, store: Path):
        from gensor_spark.plans.incremental import TierPipeline

        shutil.rmtree(store, ignore_errors=True)
        return TierPipeline(self.spark, str(store), n_batches=self.N_BATCHES,
                            tick_seconds=TICK_S, encode_blobs=True,
                            hist_tiers=True)

    def _maintain(self, pipe, wave_df) -> bool:
        r = self.run
        with r.span("incremental.wave"):
            pipe.ingest_points_wave(wave_df, 1)
        with r.span("incremental.compact"):
            pipe.compact("1m")
        with r.span("incremental.retention"):
            pipe.apply_retention(self.RETENTION, self.RETENTION_NOW)
        return True

    def warm(self) -> None:
        docs_df, wave_df = self._frames()
        pipe = self._pipeline(self.run.work / "ingest_warm")
        if self.op(pipe.run, docs_df) is not None:
            self.op(self._maintain, pipe, wave_df)

    def measure(self) -> None:
        r = self.run
        docs_df, wave_df = self._frames()
        bytes_per_point: list[float] = []
        batch_walls: list[float] = []
        state = {}

        def one_run() -> None:
            store = r.work / f"ingest_store_{self.units % 2}"
            pipe = self._pipeline(store)
            c0 = engine_cpu_s()
            t0 = time.perf_counter()
            with r.span("incremental.run"):
                self.op(pipe.run, docs_df)
            self.unit_walls.append(time.perf_counter() - t0)
            self.unit_cpu.append(engine_cpu_s() - c0)
            bytes_per_point.append(tree_bytes(store) / self.docs.n_points)
            batch_walls.extend(row["wall_s"] for row in pipe.lineage()
                               if "batch" in row and "wave" not in row)
            state["pipe"] = pipe

        self.timed_loop(one_run)
        # maintenance once, on the last store: the warm-up ran it already
        pipe = state["pipe"]
        t0 = time.perf_counter()
        self.op(self._maintain, pipe, wave_df)
        maintain_s = time.perf_counter() - t0
        self._check_maintained(pipe)
        self.op(self._check_blobs, pipe)
        self.named = {
            "ingest.points_per_s": (self.docs.n_points / median(self.unit_walls), "1/s"),
            "ingest.maintain_s": (maintain_s, "s"),
            "ingest.store_bytes_per_point": (median(bytes_per_point), "B"),
        }
        self.layer.update({
            "incremental.batch_s.p50": median(batch_walls),
            "incremental.batch_s.max": max(batch_walls),
        })
        if r.tracer.recording:
            self._probe_kernels(docs_df, pipe)

    def _probe_kernels(self, docs_df, pipe) -> None:
        """The rollup and codec kernels run alone into the noop sink."""
        from gensor_spark.codecs.gorilla import encode_docs
        from gensor_spark.operators.rollup import rollup_docs_arrow

        r = self.run
        walls = {"rollup": [], "gorilla": []}
        for _ in range(3):
            t0 = time.perf_counter()
            with r.span("rollup.kernel"):
                rollup_docs_arrow(docs_df, "1m", tick_seconds=TICK_S) \
                    .write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            with r.span("gorilla.encode"):
                encode_docs(docs_df, tick_us=TICK_S * 1_000_000) \
                    .write.format("noop").mode("overwrite").save()
            walls["rollup"].append(t1 - t0)
            walls["gorilla"].append(time.perf_counter() - t1)
        bins = sum(row["rows"]["1m"] for row in pipe.lineage()
                   if "batch" in row and "wave" not in row)
        self.layer.update({
            "rollup.kernel_s": median(walls["rollup"]),
            "rollup.bins_per_point": bins / self.docs.n_points,
            "gorilla.encode_s": median(walls["gorilla"]),
            "gorilla.bytes_per_point":
                tree_bytes(pipe.store / "blobs") / self.docs.n_points,
        })

    # -- checks -----------------------------------------------------------

    def _tier_sums(self, pipe) -> dict[str, int]:
        from pyspark.sql import functions as F

        parts = [pipe.read_tier(t, finalize=False).agg(F.sum("cnt").alias("n"))
                 .withColumn("tier", F.lit(t)) for t in ("1m", "1h", "1d")]
        union = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return {r["tier"]: int(r["n"] or 0) for r in union.collect()}

    def _tier_digest(self, pipe, tier: str) -> str:
        from pyspark.sql import functions as F

        rows = pipe.read_tier(tier).select(
            "doc_id", "source", F.unix_micros("bin_ts"), "count", "min", "max",
            "mean", "last").collect()
        return digest([row_line(*r) for r in rows])

    def _check_blobs(self, pipe) -> None:
        from pyspark.sql import functions as F

        from gensor_spark.codecs.gorilla import decode_docs

        rng = np.random.default_rng([self.run.seed, 9])
        sample = sorted(rng.choice(len(self.docs.doc_id), size=50, replace=False))
        ids = [self.docs.doc_id[i] for i in sample]
        blobs = self.spark.read.parquet(str(pipe.store / "blobs")).filter(
            F.col("doc_id").isin(ids)).select("doc_id", "source", "n_tok", "blob")
        got = {r["doc_id"]: r["tokens"] for r in decode_docs(blobs).collect()}
        bad = [i for i in sample
               if not np.array_equal(np.asarray(got.get(self.docs.doc_id[i], [])),
                                     self.docs.tokens[i])]
        self.check("decode_docs token arrays", not bad, f"{len(bad)} of {len(sample)}")

    def _check_maintained(self, pipe) -> None:
        """Σcnt of every tier and the finalized 1d tier after the run, the
        late wave, compaction and retention, against the numpy answer."""
        import pandas as pd

        ref = TierReference(self.docs, self.wave)
        cut = (pd.Timestamp(self.RETENTION_NOW, tz="UTC")
               - pd.Timedelta(self.RETENTION["1m"])).value // 1000
        want_1m = sum(r[1] for d in range(len(self.docs.doc_id))
                      for r in ref.bins(d, "1m", lo_us=cut))
        sums = self.op(self._tier_sums, pipe)
        want = {"1m": want_1m, "1h": ref.n_points, "1d": ref.n_points}
        self.check("Σcnt after wave and retention", sums == want, f"{sums} vs {want}")
        got = self.op(self._tier_digest, pipe, "1d")
        self.check("1d digest after wave", got == ref.tier_digest("1d"))


# ====================================================================== serve


class Serve(Workload):
    """Reads: one client, no think time, a seeded mix of range reads at
    three zoom levels, per-source overviews and per-series quantiles
    against an uncompacted multi-batch store."""

    name = "serve"
    N_DOCS = 250
    N_BATCHES = 2
    KINDS = ("range_1m", "range_1h", "range_1d", "tier_overview", "hist_q")
    #: one store build: a second would add 7-10 s to every serve run
    setup_repeats = 1
    WARM_ROUNDS = 8
    #: clients of the warm-up only; the timed loop has one
    WARM_CLIENTS = 3
    min_units = 6  # rounds of one read of each kind
    unit_span = "serve.round"

    def setup(self, rep: int) -> None:
        from gensor_spark.plans.incremental import TierPipeline

        w = self.run.work / f"serve_in_{rep}"
        shutil.rmtree(w, ignore_errors=True)
        self.docs = inputs.make_docs(self.run.seed, self.N_DOCS)
        self.docs.write(w / "docs")
        self.pipe = TierPipeline(self.spark, str(w / "store"),
                                 n_batches=self.N_BATCHES, tick_seconds=TICK_S,
                                 hist_tiers=True)
        self.pipe.run(self.spark.read.parquet(str(w / "docs")))

    def _requests(self, n: int, salt: int):
        """``n`` seeded requests, the kinds in turn: (kind, doc index,
        start µs, end µs)."""
        rng = np.random.default_rng([self.run.seed, 6, salt])
        e0 = inputs.EPOCH0_US
        out = []
        for i in range(n):
            kind = self.KINDS[i % len(self.KINDS)]
            d = int(rng.integers(0, self.N_DOCS))
            last_min = (self.docs.tokens[d].size - 1) // 60
            if kind == "range_1m":
                lo = e0 + int(rng.integers(0, last_min + 1)) * 60_000_000
                out.append((kind, d, lo, lo + 10 * 60_000_000))
            elif kind == "range_1h":
                out.append((kind, d, e0, e0 + 3 * 3_600_000_000))
            elif kind == "range_1d":
                out.append((kind, d, e0, e0 + 2 * 86_400_000_000))
            elif kind == "tier_overview":
                lo = e0 + int(rng.integers(0, 3)) * 3_600_000_000
                out.append((kind, d, lo, lo + 3_600_000_000))
            else:
                out.append((kind, d, 0, 0))
        return out

    def _read(self, req):
        """Issue one read and collect it: (routed tier, rows)."""
        from pyspark.sql import functions as F

        from gensor_spark.plans.incremental import read_range

        kind, d, lo, hi = req
        doc = self.docs.doc_id[d]
        us = F.unix_micros("bin_ts")
        if kind.startswith("range_"):
            df, tier = read_range(self.pipe, _ts(lo), _ts(hi), max_points=2)
            rows = df.filter(F.col("doc_id") == doc).select(
                us, "count", "min", "max", "mean", "last").collect()
            return tier, sorted(tuple(r) for r in rows)
        if kind == "tier_overview":
            df = self.pipe.read_tier("1h", finalize=False).filter(
                (us >= lo) & (us < hi))
            rows = df.groupBy("source").agg(
                F.sum("cnt"), F.min("vmin"), F.max("vmax"), F.sum("vsum")).collect()
            return "1h", {r[0]: tuple(r[1:]) for r in rows}
        rows = self.pipe.read_hist_quantiles("1h").filter(
            F.col("doc_id") == doc).select(us, "p50", "p95", "p99").collect()
        return "1h", sorted(tuple(r) for r in rows)

    def _expected(self, req):
        kind, d, lo, hi = req
        ref = self.ref
        if kind.startswith("range_"):
            tier = kind.split("_")[1]
            return tier, [tuple(r) for r in ref.bins(d, tier, lo, hi)]
        if kind == "tier_overview":
            return "1h", ref.window_by_source("1h", lo, hi)
        return "1h", ref.quantiles(d, "1h")

    def _check(self, reqs, answers) -> None:
        bad = 0
        for req, got in zip(reqs, answers):
            if got is None:
                continue
            want = self._expected(req)
            if req[0] == "hist_q":
                ok = got[0] == want[0] and len(got[1]) == len(want[1]) and all(
                    np.allclose(g, w, rtol=1e-12, atol=0) for g, w in zip(got[1], want[1]))
            else:
                ok = got == want
            bad += not ok
        self.check("responses equal the reference slice", bad == 0,
                   f"{bad} of {len(answers)} wrong")

    def warm(self) -> None:
        self.ref = TierReference(self.docs)
        reqs = self._requests(self.WARM_ROUNDS * len(self.KINDS), 1)
        # the driver's JIT warms by call count, so several clients reach a
        # steady read latency in less wall time than one would
        with ThreadPoolExecutor(self.WARM_CLIENTS) as pool:
            futures = [pool.submit(self._read, q) for q in reqs]
            answers = [self.op(f.result) for f in futures]
        self._check(reqs, answers)

    def measure(self) -> None:
        r = self.run
        reqs = self._requests(2000, 0)
        answers = []
        read_walls: list[float] = []
        kind_walls: dict[str, list[float]] = {k: [] for k in self.KINDS}

        def one_round() -> None:
            c0 = engine_cpu_s()
            with r.span("serve.round"):
                for _ in self.KINDS:
                    req = reqs[len(answers)]
                    with r.span(f"incremental.read.{req[0]}"):
                        t0 = time.perf_counter()
                        answers.append(self.op(self._read, req))
                        dt = time.perf_counter() - t0
                    read_walls.append(dt)
                    kind_walls[req[0]].append(dt)
            self.unit_cpu.append(engine_cpu_s() - c0)

        # whole rounds of one read of each kind, so every run has the same mix
        self.timed_loop(one_round)
        self._check(reqs[:len(answers)], answers)
        # a round's wall, from each kind's median over the rounds: the median
        # of single reads would fall on whichever kind sits mid-mix
        self.unit_walls = [sum(median(w) for w in kind_walls.values())]
        self.named = {
            "serve.read_p50_ms": (1000 * median(read_walls), "ms"),
            "serve.read_p90_ms": (1000 * quantile(read_walls, 0.9), "ms"),
            "serve.reads": (float(len(read_walls)), "count"),
        }
        for k, walls in kind_walls.items():
            self.layer[f"incremental.read_s.{k}"] = median(walls)


def _ts(us: int) -> str:
    return str(np.datetime64(us, "us")).replace("T", " ")


# ===================================================================== series


class Series(Workload):
    """The per-series pipeline: a fixed list of registry queries over an
    events table, each written to the ``noop`` sink. One pass over the
    list is the unit of work."""

    name = "series"
    N_ROWS, N_USERS, DAYS = 10_000, 100, 2
    QUERIES = ("gapfill", "seasonal_anomaly", "ewma_smooth", "kalman_smooth")
    min_units = 2
    unit_span = "series.pass"
    storage_peak_mb = 0.0
    released = 0

    def setup(self, rep: int) -> None:
        self.sf_dir = self.run.work / f"series_in_{rep}"
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.sf_dir.mkdir()
        pq.write_table(
            inputs.make_events(self.run.seed, self.N_ROWS, self.N_USERS, self.DAYS),
            self.sf_dir / "events.parquet")

    def _run_query(self, name: str, collect: bool = False):
        """One query: build, run, release its pooled caches. Returns
        (collected frame or None, build seconds, wall seconds)."""
        from gensor_spark.plans.caching import release_caches
        from gensor_spark.queries import QUERIES

        r = self.run
        with r.span(f"series.q.{name}"):
            t0 = time.perf_counter()
            with r.span("queries.build"):
                df = QUERIES[name](self.spark, str(self.sf_dir))
            t1 = time.perf_counter()
            if collect:
                out = df.toPandas()
            else:
                with r.span("queries.execute"):
                    df.write.format("noop").mode("overwrite").save()
                out = None
            self.storage_peak_mb = max(self.storage_peak_mb, self._storage_mb())
            with r.span("caching.release"):
                self.released += release_caches()
        return out, t1 - t0, time.perf_counter() - t0

    def _storage_mb(self) -> float:
        sc = self.spark.sparkContext._jsc.sc()
        return sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / 2**20

    def _persisted(self) -> int:
        """Persistent RDDs left once garbage is collected on both sides:
        a ``localCheckpoint`` is reclaimed by Spark's context cleaner only
        after its last reference is collected, a cache left registered is
        not."""
        import gc

        sc = self.spark.sparkContext
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)  # the cleaner thread drains its reference queue
        return int(sc._jsc.sc().getPersistentRDDs().size())

    def warm(self) -> None:
        outs = {}
        for q in self.QUERIES:
            res = self.op(self._run_query, q, collect=True)
            if res is not None:
                outs[q] = res[0]
        self._check_outputs(outs)

    def measure(self) -> None:
        self.released = 0
        self.storage_peak_mb = 0.0
        build_s = 0.0
        q_walls: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        before = self._persisted()

        def one_pass() -> None:
            nonlocal build_s
            c0 = engine_cpu_s()
            with self.run.span("series.pass"):
                for q in self.QUERIES:
                    res = self.op(self._run_query, q)
                    if res is not None:
                        build_s += res[1]
                        q_walls[q].append(res[2])
            self.unit_cpu.append(engine_cpu_s() - c0)

        self.timed_loop(one_pass)
        left = self._persisted() - before
        self.check("timed passes leave no persisted RDDs", left <= 0, f"{left} left")
        # a pass's wall, from each query's median over the passes
        self.unit_walls = [sum(median(w) for w in q_walls.values() if w)]
        self.named = {"series.wall_s": (self.unit_walls[0], "s")}
        self.layer = {f"series.q.{q}_s": median(w) if w else 0.0
                      for q, w in q_walls.items()}
        self.layer.update({
            "queries.build_s": build_s / self.units,
            "caching.released": self.released / self.units,
            "caching.persisted_after_release": float(max(left, 0)),
            "caching.storage_peak_mb": self.storage_peak_mb,
        })

    def _check_outputs(self, outs: dict) -> None:
        """Queries with an entry in ``ORACLES`` must match DuckDB's row
        count and value hash on the same events; the others return rows."""
        import duckdb

        from gensor_spark.queries import ORACLES

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{self.sf_dir / 'events.parquet'}'")
        for q, got in outs.items():
            if q not in ORACLES:
                self.check(f"{q} returns rows", len(got) > 0)
                continue
            want = value_hash(con.execute(ORACLES[q]).fetchdf())
            have = value_hash(got)
            self.check(f"{q} matches its DuckDB oracle", have == want,
                       f"spark={have} duckdb={want}")
        con.close()


WORKLOADS = {w.name: w for w in (Ingest, Serve, Series)}
