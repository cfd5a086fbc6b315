"""Incremental tier maintenance: resumable, idempotent, with lineage.

North-rule requirements: continuous aggregates (1m→1h→1d) maintained as
incrementally-merged tables, per-partition lineage rows, resumable from
checkpoint. gensor has no incrementality at all — every ``resample`` call
recomputes from raw (``core/base.py:147-170`` in the reference); its only
idempotency is the SQLite ``ON CONFLICT DO NOTHING`` insert
(``base.py:355-358``). This module is the from-scratch distributed
replacement.

Design (two storage backends — parquet directories, or Iceberg tables
maintained with real ``MERGE INTO`` via plans/iceberg_store.py):

- Input is processed in deterministic **batches** (at real scale: Iceberg
  snapshots / ingest partitions; here: hash buckets of doc_id). Each batch's
  contribution to each tier is written as **partial states**
  (operators/rollup.py) — parquet backend: a fresh ``tier_<t>/batch=<id>-*``
  dir per tier; iceberg backend: one ``MERGE INTO`` snapshot keyed on
  ``(keys…, bin_ts, batch)``.
- **One commit protocol** (plans/manifest.py): the store's versioned
  manifest lists every tier's committed dirs, the processed batch ids (the
  checkpoint: a rerun skips them) and each sketch tier's committed stream
  epochs (a replay skips them, also once a fold absorbed them). A
  contribution commits all its tiers in one version; a fold (compaction,
  retention, sketch fold, calendar refresh) writes a fresh dir and commits
  it in place of the dirs it listed, keeping any contribution committed
  since. Readers read the newest version only.
- **Lineage** (``_lineage.jsonl``): one row per commit with its manifest
  version: per batch the per-tier row counts and wall time, the per-partition
  lineage rows the north rule asks for; per fold its kind and rows written.
- Reads merge partial states across contributions (associative — see
  rollup.py) and finalize to count/min/max/mean/last. ``compact()``
  re-aggregates a tier into a single contribution (Iceberg: rewrite_data_files).

Because partials are associative and batches are disjoint row sets, the
pipeline commutes with any batch order and any parallelism level — which is
also what makes the N-vs-4N scaling run apples-to-apples.

Crash windows (parquet backend). A kill before a writer's commit leaves
its dirs unlisted: readers see the store as before, and a rerun writes the
batch again into fresh dirs. A kill after it leaves the write visible in
every tier it touches; a fold killed there has not yet deleted the dirs it
absorbed, and a plain fold not yet dropped a bucketed catalog entry. Unlisted
dirs are never read (a bucketed read checks the catalog location against the
manifest); ``reset()`` removes them. ``blobs/batch=<id>`` is outside the
manifest: a rerun of the batch overwrites it.
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gensor_spark.operators.cmsketch import (
    cascade_cms,
    estimate_cms,
    merge_cms,
    rollup_cms,
)
from gensor_spark.operators.ddsketch import dd_quantize
from gensor_spark.operators.distinctrollup import (
    cascade_distinct,
    finalize_distinct,
    merge_distinct,
    rollup_distinct,
)
from gensor_spark.operators.histquantiles import (
    cascade_hist,
    merge_hist,
    quantiles_from_hist,
    rollup_hist,
    rollup_hist_docs_arrow,
)
from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import (
    _DOC_KEYS,
    _merge_partials,
    cascade_tier,
    finalize_tier,
    rollup_docs_arrow,
    rollup_tier,
)
from gensor_spark.operators.topkrollup import (
    cascade_topk,
    finalize_topk,
    merge_topk,
    rollup_topk,
)
from gensor_spark.plans import manifest
from gensor_spark.plans.bucketing import write_bucketed
from gensor_spark.plans.caching import cache_scope, pooled_cache
from gensor_spark.plans.zorder import rank_scale, zvalue

TIERS = ("1m", "1h", "1d")


def _rollup_hist_points(points: DataFrame, tier: str, keys: tuple[str, ...],
                        quantize_alpha: float | None = None) -> DataFrame:
    """Point-path histogram build. DDSketch mode (operators/ddsketch.py)
    quantizes values onto the log bucket grid BEFORE they enter the 1m
    histograms, so every downstream guarantee holds over the quantized
    domain."""
    if quantize_alpha is not None:
        points = points.withColumn(
            "value", dd_quantize(F.col("value"), quantize_alpha))
    return rollup_hist(points, tier, keys=keys)


def _rollup_hist_docs(docs: DataFrame, keys: tuple[str, ...],
                      tick_seconds: int,
                      quantize_alpha: float | None = None) -> DataFrame | None:
    """1m histograms via the affine Arrow kernel: no point explode, no
    raw-point shuffle, bit-identical to the point path (asserted in tests).
    ``None`` sends the caller to the point path: the kernel's output schema
    is fixed to the default series keys, and DDSketch quantization is a
    point-grain projection."""
    if tuple(keys) != _DOC_KEYS or quantize_alpha is not None:
        return None
    return rollup_hist_docs_arrow(docs, "1m", tick_seconds=tick_seconds)


@dataclass(frozen=True)
class _SketchFamily:
    """One mergeable sketch family's tier contract.

    Every family stores per-contribution 1m partials under
    ``tier_<tier>/batch=<id>-*`` (batch, wave and stream-epoch
    contributions alike), merges any set of them per (series, bin) at read,
    and derives coarser tiers at read by cascading the merged 1m state —
    bin-grain work, never a raw-point re-read. ``params`` are the rollup
    parameters with their defaults: a TierPipeline takes them from its
    ``<family>_<param>`` attributes, a stream sink as keywords, so batch and
    stream contributions to one store are built alike (a pipeline's hist
    rollup also gets its DDSketch ``quantize_alpha``). ``merge`` and
    ``cascade`` get the same keywords and ignore those they do not use.
    """

    tier: str
    params: dict
    #: (points, tier, keys=, **params) → partials
    rollup: Callable[..., DataFrame]
    #: (partials, group_cols, **params) → one row per group
    merge: Callable[..., DataFrame]
    #: (merged, tier, keys=, **params) → merged at the coarser tier
    cascade: Callable[..., DataFrame]
    #: (docs, keys, tick_seconds, **params) → 1m partials straight from the
    #: token docs, or None for the point path
    docs_rollup: Callable[..., DataFrame | None] | None = None


_SKETCH_FAMILIES = {
    # exact per-bin value counts → percentiles (operators/histquantiles.py)
    "hist": _SketchFamily(
        "hist_1m", {},
        rollup=_rollup_hist_points,
        merge=lambda raw, cols, **_: merge_hist(raw, cols),
        cascade=lambda m, tier, keys, **_: cascade_hist(m, tier, keys=keys),
        docs_rollup=_rollup_hist_docs,
    ),
    # HLL registers, register-max union (operators/distinctrollup.py)
    "distinct": _SketchFamily(
        "distinct_1m", {"of": "value", "lgk": 12},
        rollup=rollup_distinct,
        merge=lambda raw, cols, **_: merge_distinct(raw, cols),
        cascade=lambda m, tier, keys, **_: cascade_distinct(m, tier, keys=keys),
    ),
    # Misra-Gries summaries; the merge is lossy but keeps the certificate
    # bounds (operators/topkrollup.py)
    "topk": _SketchFamily(
        "topk_1m", {"of": "value", "k": 32},
        rollup=rollup_topk,
        merge=lambda raw, cols, k, **_: merge_topk(raw, cols, k=k),
        cascade=lambda m, tier, keys, k, **_: cascade_topk(
            m, tier, keys=keys, k=k),
    ),
    # Count-Min counters: sums, so every merge is bit-exact
    # (operators/cmsketch.py)
    "cms": _SketchFamily(
        "cms_1m", {"of": "value", "depth": 4, "width": 1024},
        rollup=rollup_cms,
        merge=lambda raw, cols, **_: merge_cms(raw, cols),
        cascade=lambda m, tier, keys, **_: cascade_cms(m, tier, keys=keys),
    ),
}


def _cutoff(age: str, now) -> str:
    """ISO timestamp ``now - age``: the oldest bin a retention run keeps."""
    import pandas as pd

    return (pd.Timestamp(now) - pd.Timedelta(age)).isoformat(sep=" ")


class TierPipeline:
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        keys: tuple[str, ...] = ("doc_id", "source"),
        n_batches: int = 8,
        tick_seconds: int = 60,
        encode_blobs: bool = False,
        max_concurrent: int = 2,
        backend: str = "parquet",
        iceberg_namespace: str = "local.gensor",
        hist_tiers: bool = False,
        distinct_tiers: bool = False,
        distinct_of: str = "value",
        distinct_lgk: int = 12,
        topk_tiers: bool = False,
        topk_of: str = "value",
        topk_k: int = 32,
        cms_tiers: bool = False,
        cms_of: str = "value",
        cms_depth: int = 4,
        cms_width: int = 1024,
        var_tiers: bool = False,
        ohlc_tiers: bool = False,
        moment_tiers: bool = False,
        hist_quantize_alpha: float | None = None,
    ) -> None:
        self.spark = spark
        self.store = Path(store_dir)
        self.keys = keys
        self.n_batches = n_batches
        self.tick_seconds = tick_seconds
        #: tier storage: "parquet" (directory-per-batch, dynamic overwrite)
        #: or "iceberg" (MERGE INTO per batch — plans/iceberg_store.py;
        #: requires the iceberg-spark runtime jar + a configured catalog,
        #: see iceberg_store.iceberg_conf). Manifest/lineage/blobs stay on
        #: the filesystem either way.
        self.backend = backend
        # validate flag/backend combinations BEFORE any backend session work:
        # the Iceberg MERGE templates carry the plain wide rows only — no
        # map/array sketch columns, no optional partial columns
        parquet_only = [name for name, on in (
            ("hist_tiers", hist_tiers), ("distinct_tiers", distinct_tiers),
            ("topk_tiers", topk_tiers), ("cms_tiers", cms_tiers),
            ("var_tiers", var_tiers), ("ohlc_tiers", ohlc_tiers),
            ("moment_tiers", moment_tiers)) if on]
        if parquet_only and backend != "parquet":
            raise ValueError(
                f"{'/'.join(parquet_only)} require the parquet backend")
        if backend == "iceberg":
            from gensor_spark.plans.iceberg_store import IcebergTierStore

            self.iceberg = IcebergTierStore(spark, iceberg_namespace, keys=keys)
        elif backend != "parquet":
            raise ValueError(f"unknown backend {backend!r}")
        #: north-star compression stage: also write each batch's series as
        #: Gorilla/delta-of-delta blobs (codecs/gorilla.py, Arrow UDF)
        self.encode_blobs = encode_blobs
        #: also maintain 1m value-histogram partials per batch (operators/
        #: histquantiles.py) — the mergeable EXACT-percentile state the wide
        #: partials cannot express. Coarser percentile tiers cascade at read
        #: from the stored 1m histograms (bin-grain work, no raw re-read):
        #: ``read_hist_quantiles``. The batch path rides the affine Arrow
        #: kernel (rollup_hist_docs_arrow — no point explode); late-data
        #: waves use the ts-stamped point path. Opt-in: the histogram state
        #: is inherently heavier than count/min/max/mean/last.
        self.hist_tiers = hist_tiers
        #: DDSketch mode for the histogram tiers (operators/ddsketch.py):
        #: when set, values are quantized onto the log bucket grid with this
        #: relative accuracy BEFORE entering the 1m histograms — the
        #: unbounded-float path, bounding per-bin state at
        #: 2·log_gamma(vmax/vmin)+1 buckets regardless of cardinality.
        #: Quantization happens once at the leaves, so every downstream
        #: guarantee (merge associativity, cascade == direct, waves,
        #: retention) holds bit-exactly over the quantized domain. Keep the
        #: value constant for a store's lifetime (mixed grids would merge
        #: distinct bucket keys). Requires hist_tiers.
        if hist_quantize_alpha is not None and not hist_tiers:
            raise ValueError("hist_quantize_alpha requires hist_tiers=True")
        self.hist_quantize_alpha = hist_quantize_alpha
        #: also maintain 1m HLL distinct-count sketches per batch
        #: (operators/distinctrollup.py) — the mergeable distinct-count
        #: state (distinct values/tokens/docs per bin) the numeric partials
        #: cannot express. Coarser tiers cascade at read via register-max
        #: union (``read_distinct``), exactly the hist contract.
        self.distinct_tiers = distinct_tiers
        self.distinct_of = distinct_of
        self.distinct_lgk = distinct_lgk
        #: also maintain 1m Misra-Gries top-k heavy-hitter summaries per
        #: batch (operators/topkrollup.py) — the mergeable "which items
        #: dominate each bin" state over unbounded item domains. Coarser
        #: tiers cascade at read via the MG merge (``read_topk``), the
        #: hist/distinct contract.
        self.topk_tiers = topk_tiers
        self.topk_of = topk_of
        self.topk_k = topk_k
        #: also maintain 1m Count-Min sketch counters per batch
        #: (operators/cmsketch.py) — the mergeable point-query frequency
        #: state ("how often did THIS item appear in that bin" for ANY
        #: item, not just heavy hitters). Counters are sums, so cascades,
        #: cross-contribution merges, compaction and retention are all
        #: BIT-EXACT vs a from-scratch build (stronger than MG/HLL). Keep
        #: depth/width constant for a store's lifetime — they are the
        #: sketch's identity, like lgk for HLL.
        self.cms_tiers = cms_tiers
        self.cms_of = cms_of
        self.cms_depth = cms_depth
        self.cms_width = cms_width
        #: also carry the Σx² variance partial in every stored tier row
        #: (operators/rollup.py with_sumsq) — `read_tier(finalize=True)` then
        #: emits var/std alongside count/min/max/mean/last; the sumsq-aware
        #: merge makes cascades/compaction/retention propagate it unchanged.
        #: Keep the flag constant for a store's lifetime (mixed batches
        #: would disagree on the parquet schema).
        self.var_tiers = var_tiers
        #: ditto for the first/first_ts OHLC pair and the Σx³/Σx⁴ moment
        #: partials — each an opt-in column family every merge path
        #: (cascade, compaction, retention, streaming fold) carries
        #: unchanged because _merge_partials is schema-driven
        self.ohlc_tiers = ohlc_tiers
        self.moment_tiers = moment_tiers
        #: batches in flight at once. Spark schedules concurrent jobs from
        #: driver threads task-by-task, so a second batch's heavy stages fill
        #: the slots the first batch leaves idle during its commit/small-stage
        #: tail — this amortizes the parallelism-independent per-job floor
        #: (scheduler + file-commit latency) that otherwise bounds wide-N
        #: scaling efficiency (the Amdahl term measured in BENCH/BASELINE.md).
        self.max_concurrent = max(1, max_concurrent)
        #: data schema of each tier directory this pipeline has read, by
        #: directory name — see ``_scan``. Cleared by ``reset()``.
        self._schemas: dict[str, StructType] = {}
        #: the last frame each tier read built, with the manifest entries it
        #: was built on, by read key — see ``_memo_read``. Cleared by
        #: ``reset()``.
        self._frames: dict[tuple, tuple[tuple, DataFrame]] = {}

    # ------------------------------------------------------------- checkpoint

    def _manifest(self) -> dict:
        """The store's newest committed manifest version."""
        return manifest.newest(self.store)

    def ledger(self) -> dict:
        """The committed batch and wave ids, from the manifest."""
        return {"processed": self._manifest()["processed"]}

    def lineage(self) -> list[dict]:
        p = self.store / "_lineage.jsonl"
        if not p.exists():
            return []
        return [json.loads(line) for line in p.read_text().splitlines()]

    # -------------------------------------------------------------------- run

    def _batch_col(self):
        return F.pmod(F.xxhash64(*self.keys), F.lit(self.n_batches))

    def _write_counted(self, df: DataFrame, out_dir: str) -> int:
        """Overwrite-write ``df`` and return its row count from the SAME job.

        The count rides along as an observed metric (``CollectMetrics`` node
        over the write scan) instead of a second read-back action — each
        ``.count()`` job was pure parallelism-independent floor (~0.3-0.5s of
        scheduler + listing latency apiece, 4 per batch), the dominant term
        in the wide-pair scaling gap (BENCH/BASELINE.md §3).

        Writes at the plan's natural partitioning: a ``repartition(n)`` here
        is a full Exchange of the tier rows purely to shape file counts, and
        ``coalesce(n)`` is worse — it collapses the upstream Arrow kernel to
        n tasks (no stage boundary), throttling the rollup/codec stages.
        File-count hygiene belongs to compaction (``compact()`` / Iceberg
        ``rewrite_data_files``), not the hot ingest path; a lone
        ``repartition(1)`` single-file write was a measured 4s serial tail.
        """
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        return int(obs.get["rows"])

    def _store_tier(self, tier_df: DataFrame, tier: str, b: int,
                    dirs: dict[str, Path] | None = None) -> int:
        """Persist one batch's tier partials via the configured backend
        (parquet: into the tier's fresh dir in ``dirs``)."""
        if self.backend == "iceberg":
            # one atomic MERGE-INTO snapshot per (tier, batch); idempotent
            # on re-run because the merge key includes the batch id.
            # Lineage count comes from manifest metadata (count_batch), not
            # a standalone data-scan count job — see IcebergTierStore.
            self.iceberg.merge_batch(tier, tier_df, b)
            return self.iceberg.count_batch(tier, b)
        return self._write_counted(tier_df, str(dirs[tier]))

    def _store_contribution(self, sid: int, m1: DataFrame, points: DataFrame,
                            docs: DataFrame | None = None,
                            blobs: DataFrame | None = None,
                            wave: int | None = None) -> None:
        """Write one contribution ``sid`` to every tier, then commit it.

        ``m1`` is its 1m partials and ``points`` its point view; ``docs``
        (token docs) lets a sketch family with a docs kernel skip the point
        view, and ``blobs`` is its Gorilla-encoded series. A ``run()`` batch
        passes all of them; a late wave passes ``wave`` and no docs or
        blobs. Every tier dir is fresh; one manifest commit makes them all
        visible with ``sid`` processed, or none when another writer
        committed ``sid`` first. A failed write deletes its dirs.
        """
        t0 = time.monotonic()
        fams = self._sketch_families()
        dirs = ({t: manifest.fresh_dir(self.store, t, sid) for t in
                 (*TIERS, *(_SKETCH_FAMILIES[f].tier for f in fams))}
                if self.backend == "parquet" else {})
        counts: dict[str, int] = {}
        blob_thread: threading.Thread | None = None
        blob_err: list[BaseException] = []
        if blobs is not None:
            blob_dir = str(self.store / "blobs" / f"batch={sid}")

            def _encode() -> None:
                # overlaps the tier chain below: the codec stage is pure
                # Arrow-UDF CPU work while the tier chain alternates compute
                # with shuffle/commit waits — interleaving them keeps task
                # slots busy through both jobs' serial tails
                try:
                    counts["blobs"] = self._write_counted(blobs, blob_dir)
                except BaseException as e:  # re-raised on join
                    blob_err.append(e)

            blob_thread = threading.Thread(target=_encode, daemon=True)
            blob_thread.start()

        with manifest.writing(dirs.values()):
            try:
                with cache_scope():
                    # cached so the 1h cascade reuses the in-memory partials
                    # instead of a parquet read-back round trip (another ~2
                    # floor jobs per batch)
                    m1 = pooled_cache(m1)
                    counts["1m"] = self._store_tier(m1, "1m", sid, dirs)
                    # coarser tiers cascade from the (much smaller) finer
                    # tier — never re-read the raw points
                    h1 = pooled_cache(cascade_tier(m1, "1h", keys=self.keys))
                    counts["1h"] = self._store_tier(h1, "1h", sid, dirs)
                    counts["1d"] = self._store_tier(
                        cascade_tier(h1, "1d", keys=self.keys), "1d", sid,
                        dirs)
            finally:
                if blob_thread is not None:
                    blob_thread.join()
            if blob_err:
                raise blob_err[0]
            # each sketch family from the token docs when it has a docs
            # kernel that applies, else from the point view
            for family in fams:
                fam, params = (_SKETCH_FAMILIES[family],
                               self._sketch_params(family))
                part = None
                if docs is not None and fam.docs_rollup is not None:
                    part = fam.docs_rollup(docs, self.keys, self.tick_seconds,
                                           **params)
                if part is None:
                    part = fam.rollup(points, "1m", keys=self.keys, **params)
                counts[fam.tier] = self._write_counted(
                    part, str(dirs[fam.tier]))
        row: dict = {"batch": sid}
        if wave is not None:
            row["wave"] = wave
        row.update(rows=counts, wall_s=round(time.monotonic() - t0, 3),
                   tiers=list(TIERS))
        manifest.add(self.store, sid, dirs, row)

    def _process_batch(self, docs_batched: DataFrame, b: int) -> None:
        batch_docs = docs_batched.filter(F.col("_batch") == b).drop("_batch")
        blobs = None
        if self.encode_blobs:
            from gensor_spark.codecs.gorilla import EPOCH0_US, encode_docs

            blobs = encode_docs(batch_docs,
                                tick_us=self.tick_seconds * 1_000_000,
                                epoch0_us=EPOCH0_US)
        # affine-ts fast path: 1m partials straight from the token arrays via
        # the batched numpy reduceat kernel — no point-view explode, no
        # raw-point shuffle; bit-identical to rollup_tier(docs_to_points(...)).
        m1 = rollup_docs_arrow(
            batch_docs, "1m", tick_seconds=self.tick_seconds,
            with_sumsq=self.var_tiers, with_first=self.ohlc_tiers,
            with_moments=self.moment_tiers,
        )
        points = docs_to_points(batch_docs, tick_seconds=self.tick_seconds)
        self._store_contribution(b, m1, points, docs=batch_docs, blobs=blobs)

    def run(self, docs: DataFrame, batches: list[int] | None = None) -> dict:
        """Process unprocessed batches; returns per-run stats.

        ``batches=None`` processes everything outstanding. Safe to kill and
        rerun at any point — completed batches are skipped via the ledger,
        half-written ones are overwritten bit-identically. Up to
        ``max_concurrent`` batches run concurrently (correct in any order /
        interleaving: batches are disjoint row sets and partials are
        associative; ledger + lineage writes are lock-serialized).

        The token docs carry their series identity in ``doc_id``/``source``
        only, so ``keys`` must be a non-empty subset of those two; other
        series keys fit the point path (``ingest_points_wave``).
        """
        if not self.keys or not set(self.keys) <= set(_DOC_KEYS):
            raise ValueError(
                f"run() keys must be a non-empty subset of {_DOC_KEYS}, the "
                f"token docs' series columns; got keys={self.keys!r}")
        done = set(self.ledger()["processed"])
        todo = [
            b
            for b in (batches if batches is not None else range(self.n_batches))
            if b not in done
        ]
        stats = {"processed": [], "skipped": sorted(done)}
        if not todo:
            return stats

        # batch identity is doc-level (hash of the series keys), so filter
        # BEFORE the explode: each batch pass then explodes only its own
        # docs instead of all points (n_batches× less explode work per pass)
        docs_batched = docs.withColumn("_batch", self._batch_col())

        if self.max_concurrent <= 1 or len(todo) == 1:
            for b in todo:
                self._process_batch(docs_batched, b)
        else:
            with ThreadPoolExecutor(max_workers=self.max_concurrent) as pool:
                futures = [
                    pool.submit(self._process_batch, docs_batched, b) for b in todo
                ]
                for f in futures:
                    f.result()  # propagate the first failure
        stats["processed"] = sorted(todo)
        return stats

    # ------------------------------------------------- late data / backfill

    def ingest_points_wave(self, points: DataFrame, wave: int) -> dict:
        """Fold a late-arriving POINT delta into the tiers (backfill).

        Continuous-aggregate backfill without invalidation machinery: the
        partial states are associative, so late rows never rewrite stored
        bins — they land as NEW contributions ``batch = wave·n_batches +
        bucket`` and every affected bin re-merges at read (exactly the
        cross-batch merge ``read_tier``/``compact`` already perform). This
        is the first path where two contributions can share a (series, bin);
        ``_merge_partials`` is associative on every column including
        ``last`` (``max_by`` on ``last_ts``), so read-time results equal a
        from-scratch recompute over old+late points (asserted in tests).

        Late data arrives as the POINT view (ts-stamped rows), not re-packed
        token docs, so the rollup is the point-path ``rollup_tier`` (no
        affine-ts assumption) and the blob-encode stage does not apply.
        ``wave`` must be a unique integer ≥ 1 per delta (e.g. the ingest
        snapshot ordinal): idempotency per (wave, bucket) rides the same
        ledger as ``run()``, and wave ids stay integers so both backends'
        batch identity (parquet dir / Iceberg INT column) are unchanged.

        The one driver action (a distinct over ≤ ``n_batches`` bucket ids)
        skips empty buckets — a small delta then writes only the
        contributions it actually has, not ``n_batches`` empty dirs.
        """
        if not isinstance(wave, int) or wave < 1:
            raise ValueError(f"wave must be an integer >= 1, got {wave!r}")
        done = set(self.ledger()["processed"])
        bucketed = points.withColumn("_batch", self._batch_col())
        present = sorted(
            r["_batch"] for r in bucketed.select("_batch").distinct().collect()
        )
        stats = {"processed": [], "skipped": []}
        for b in present:
            sid = wave * self.n_batches + int(b)
            if sid in done:
                stats["skipped"].append(sid)
                continue
            self._process_points_batch(bucketed, int(b), sid, wave)
            stats["processed"].append(sid)
        return stats

    def _process_points_batch(self, bucketed: DataFrame, b: int, sid: int,
                              wave: int) -> None:
        pts = bucketed.filter(F.col("_batch") == b).drop("_batch")
        m1 = rollup_tier(
            pts, "1m", keys=self.keys, with_sumsq=self.var_tiers,
            with_first=self.ohlc_tiers, with_moments=self.moment_tiers,
        )
        self._store_contribution(sid, m1, pts, wave=wave)

    # ------------------------------------------------- sketch-tier families
    # Histograms, HLL, Misra-Gries and Count-Min tiers share ONE store
    # contract (_SKETCH_FAMILIES): per-contribution 1m partial dirs under
    # ``tier_<family>_1m``, committed, folded and read through the store's
    # manifest like every other tier. The public per-family methods below
    # are a call into it plus that family's finalize step.

    def _sketch_families(self) -> list[str]:
        return [f for f in _SKETCH_FAMILIES if getattr(self, f"{f}_tiers")]

    def _sketch_params(self, family: str) -> dict:
        params = {p: getattr(self, f"{family}_{p}")
                  for p in _SKETCH_FAMILIES[family].params}
        if family == "hist":
            # DDSketch mode is a pipeline option only; no stream sink takes it
            params["quantize_alpha"] = self.hist_quantize_alpha
        return params

    def _merge_sketch(self, family: str, raw: DataFrame,
                      tier: str = "1m") -> DataFrame:
        """Merged partials of ``family`` at ``tier`` from its unmerged 1m
        contributions ``raw``: they merge per (series, bin), and coarser
        tiers cascade from the merged 1m state."""
        fam = _SKETCH_FAMILIES[family]
        params = self._sketch_params(family)
        merged = fam.merge(raw, [*self.keys, "bin_ts"], **params)
        if tier != "1m":
            merged = fam.cascade(merged, tier, keys=self.keys, **params)
        return merged

    def _read_sketch(self, family: str, key: tuple,
                     build: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """``build`` over the committed 1m contributions of ``family`` (one
        row per contribution, series and bin), memoized under
        ``(family, *key)`` by ``_memo_read``."""
        tier = _SKETCH_FAMILIES[family].tier
        return self._memo_read((family, *key), tier,
                               self._manifest()["tiers"].get(tier, []), build)

    def _fold_sketch(self, family: str, cutoff: str | None = None
                     ) -> str | None:
        """Fold every committed contribution of ``family`` into one
        (compaction); with ``cutoff``, also drop bins older than it
        (retention — coarser sketch tiers are derived at read, so the 1m
        horizon IS the family's retention horizon)."""
        tier = _SKETCH_FAMILIES[family].tier
        self._rewrite_tier(
            tier, lambda listed: self._merge_sketch(
                family, self._scan(tier, listed)),
            {"retention": {tier: cutoff}} if cutoff else {"compact": tier},
            cutoff=cutoff)
        return cutoff

    def read_hist_quantiles(
        self, tier: str = "1h", ps: tuple[float, ...] = (0.5, 0.95, 0.99)
    ) -> DataFrame:
        """Exact per-bin percentiles at ``tier`` from the stored 1m
        histograms. The visible contributions go to the quantile window
        unmerged, re-binned to ``tier`` (bin-grain rows, never a raw-point
        re-read): equal (value) rows of several contributions or finer bins
        are window peers, so the answer equals the merged, cascaded
        histogram's with one shuffle instead of four; a read under the
        one-task cut (``_scan``) uses none. Exactness argument and plan
        audit: operators/histquantiles.py."""
        return self._read_sketch("hist", ("quantiles", tier, tuple(ps)),
                                 lambda raw: quantiles_from_hist(
                                     raw, ps=ps, keys=self.keys, tier=tier))

    def read_distinct(self, tier: str = "1h") -> DataFrame:
        """Per-bin distinct-count estimates at ``tier`` from the stored 1m
        HLL sketches — coarser tiers cascade at read via register-max union
        (exactly equal to direct aggregation; operators/distinctrollup.py)."""
        return self._read_sketch("distinct", (tier,), lambda raw:
                                 finalize_distinct(self._merge_sketch(
                                     "distinct", raw, tier)))

    def read_topk(self, tier: str = "1h", top: int | None = None) -> DataFrame:
        """Per-bin ranked heavy hitters at ``tier`` from the stored 1m
        Misra-Gries summaries — coarser tiers cascade at read via the MG
        merge (certificate bounds preserved; operators/topkrollup.py)."""
        return self._read_sketch("topk", (tier, top), lambda raw:
                                 finalize_topk(self._merge_sketch(
                                     "topk", raw, tier), top=top))

    def read_cms(self, tier: str = "1h", items: DataFrame | None = None,
                 item_col: str = "item") -> DataFrame:
        """Per-bin Count-Min state at ``tier`` from the stored 1m counters
        — coarser tiers cascade at read via counter sums (BIT-EXACT vs a
        direct build; operators/cmsketch.py). With ``items`` (a one-column
        DataFrame whose type matches ``cms_of``), returns point-query
        estimates ``keys..., bin_ts, item, est`` instead of raw counters."""
        merged = self._read_sketch(
            "cms", (tier,), lambda raw: self._merge_sketch("cms", raw, tier))
        if items is None:
            return merged
        return estimate_cms(merged, items, item_col=item_col,
                            keys=self.keys, depth=self.cms_depth,
                            width=self.cms_width)

    def compact_hist(self) -> None:
        """Fold all histogram contributions into one (the same manifest
        commit as ``compact``). The manifest keeps the absorbed stream
        epochs as committed, so an at-least-once replay of them is skipped."""
        self._fold_sketch("hist")

    def compact_distinct(self) -> None:
        """Fold all distinct-sketch contributions into one."""
        self._fold_sketch("distinct")

    def compact_topk(self) -> None:
        """Fold all top-k summary contributions into one."""
        self._fold_sketch("topk")

    def compact_cms(self) -> None:
        """Fold all Count-Min contributions into one. Counters are sums, so
        the folded state is bit-identical to the unfolded union."""
        self._fold_sketch("cms")

    def apply_hist_retention(self, age: str, now) -> str:
        """Drop 1m histogram bins older than ``now - age``; returns the ISO
        cutoff applied."""
        return self._fold_sketch("hist", _cutoff(age, now))

    def apply_distinct_retention(self, age: str, now) -> str:
        """Drop 1m HLL distinct-sketch bins older than ``now - age``."""
        return self._fold_sketch("distinct", _cutoff(age, now))

    def apply_topk_retention(self, age: str, now) -> str:
        """Drop 1m Misra-Gries summary bins older than ``now - age``."""
        return self._fold_sketch("topk", _cutoff(age, now))

    def apply_cms_retention(self, age: str, now) -> str:
        """Drop 1m Count-Min counter bins older than ``now - age``."""
        return self._fold_sketch("cms", _cutoff(age, now))

    # ------------------------------------------------------------------- read

    def read_tier(self, tier: str, finalize: bool = True,
                  as_of_batch: int | None = None) -> DataFrame:
        """Merged view of a tier across all batch contributions.

        ``as_of_batch=b`` TIME-TRAVELS: merge only the contributions of
        batches ``<= b`` — the tier exactly as it stood after batch ``b``
        committed (reproduce a historical training run, bisect a data
        regression). Requires the per-batch layout: a compacted tier
        has folded its history away, so as-of reads raise
        there instead of silently answering from the folded state.
        Parquet backend (Iceberg's own snapshot time travel covers it
        there).
        """
        def build(df: DataFrame) -> DataFrame:
            merged = _merge_partials(df, [*self.keys, "bin_ts"])
            return finalize_tier(merged) if finalize else merged

        if self.backend == "iceberg":
            if as_of_batch is not None:
                raise ValueError(
                    "as_of_batch is parquet-backend only — use Iceberg "
                    "snapshot time travel (VERSION AS OF) instead")
            return build(self.iceberg.read(tier))
        listed = self._manifest()["tiers"].get(tier, [])
        if as_of_batch is None:
            df = self._bucketed_scan(tier, listed)
            if df is not None:
                return build(df)
        else:
            if any("layout" in e for e in listed):
                raise ValueError(
                    f"tier {tier!r} is compacted: its per-batch history is "
                    "folded — as-of reads need the uncompacted layout")
            listed = [e for e in listed if e["id"] <= as_of_batch]
        return self._memo_read(("tier", tier, finalize, as_of_batch), tier,
                               listed, build)

    def _merged(self, tier: str, listed: list[dict]) -> DataFrame:
        """The merged partials of the contributions ``listed`` of ``tier``."""
        return _merge_partials(self._scan(tier, listed),
                               [*self.keys, "bin_ts"])

    def _open_cost(self) -> int:
        """The session's ``spark.sql.files.openCostInBytes``: the one-task
        cut of ``_scan``."""
        return self.spark._jsparkSession.sessionState().conf() \
            .filesOpenCostInBytes()

    def _memo_read(self, key: tuple, tier: str, listed: list[dict],
                   build: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """``build`` over the scan of the committed contributions ``listed``
        of ``tier``, or the frame the last read under ``key`` built, when
        it was built on the same entries and open cost.

        Building a read is driver work before any job: data source
        resolution, file index, analysis of the merge and finalize plans,
        and their Py4J round trips; a store that has not changed gets the
        frame it already has. A committed dir is never written again, so
        its manifest entry names its content: every write, by this pipeline
        or any other, commits new entries. A frame keeps the SQL conf it was
        analysed under; a new ``TierPipeline`` builds afresh. Concurrent
        reads of one key may each build; each stores its frame together
        with its own entries.

        A read under the one-task cut of ``_scan`` is run once, here, and
        kept as a driver-local relation of its rows (``toArrow`` →
        ``createDataFrame``, a ``LocalRelation``): a caller's filter or
        projection folds into it while the plan is optimized, so its
        actions open no file and run no job. Such a frame is a snapshot of
        the manifest version it was built on and still answers after a
        fold deletes the dirs it read. Its rows come from at most the cut's
        bytes of parquet, which bounds the driver memory each key holds.
        Larger reads stay lazy file scans.
        """
        open_cost = self._open_cost()
        seen = (tuple((e["dir"], e["bytes"]) for e in listed), open_cost)
        hit = self._frames.get(key)
        if hit is not None and hit[0] == seen:
            return hit[1]
        df = build(self._scan(tier, listed))
        if sum(e["bytes"] for e in listed) <= open_cost:
            df = self.spark.createDataFrame(df.toArrow(), schema=df.schema)
        self._frames[key] = (seen, df)
        return df

    def _scan(self, tier: str, listed: list[dict]) -> DataFrame:
        """Parquet scan of the committed contribution dirs ``listed`` of
        ``tier``; a FileNotFoundError when there are none.

        Only a tier's first scan infers the data schema (a one-task Spark
        job over a footer, most of a small read's plan-build time); later
        scans pass the remembered one. A pipeline's flags fix each tier's
        columns for its lifetime, so the memo cannot go stale. A frame's
        file index keeps the files it was built with, which is why a read
        reuses a frame (``_memo_read``) only while the entries are unchanged.

        A read whose ``part-*`` files sum to at most the session's
        ``spark.sql.files.openCostInBytes`` (1 MB from ``get_spark``) runs
        as one task (``coalesce(1)``): splitting a read smaller than the
        cost Spark charges for opening one file buys nothing. The single
        partition already meets the clustering of the merge aggregate, the
        quantile windows and an overview ``groupBy``, so such a read plans
        no Exchange and runs as one job. A memoized read runs that job once
        and keeps its rows on the driver (``_memo_read``), so its driver
        memory is bounded by the cut; a fold's scan stays a file scan.
        Larger reads keep their file splits and the merge its shuffle: one
        task is slower there (a 1.9 MB hist quantile read, measured).
        """
        if not listed:
            raise FileNotFoundError(
                f"tier {tier!r} has no data under {self.store} — run() it "
                "first (a sketch tier needs its <family>_tiers flag)")
        base = self.store / f"tier_{tier}"
        reader = self.spark.read
        known = self._schemas.get(base.name)
        if known is not None:
            reader = reader.schema(known)
        df = reader.parquet(*[str(base / e["dir"]) for e in listed])
        if known is None:
            # concurrent first reads may both infer; they store equal schemas
            self._schemas[base.name] = df.schema
        size = sum(e["bytes"] for e in listed)
        return df.coalesce(1) if size <= self._open_cost() else df

    def _rewrite_tier(self, tier: str,
                      build: Callable[[list[dict]], DataFrame], row: dict,
                      cutoff: str | None = None, n_buckets: int | None = None,
                      layout: str = "plain") -> int | None:
        """Fold a tier: ``build`` maps the tier's committed entries to the
        partials that replace them (parquet backend), written to a fresh
        dir and committed in their place; returns the row count written
        (None for a bucketed write). The one rewrite behind every fold:
        compaction (plain, z-order, bucketed), retention, sketch folds and
        calendar refreshes, first write included. ``cutoff`` drops bins
        older than it (retention); ``row`` is the commit's lineage row.

        The commit keeps every contribution committed after the listing
        (partials are associative). When an entry it absorbed is gone or
        another fold's output is new (another fold committed first), the
        output is deleted and the fold redone on the newer version. The
        absorbed dirs are deleted after the commit. A read under the
        one-task cut holds its rows and still answers; a larger read running
        then can find its files gone and fail, and issued again reads the
        new version.

        ``n_buckets`` writes the output as a bucketed catalog table on the
        series keys (plans/bucketing.py) registered at the output dir; the
        read side uses it only while the manifest lists that dir as the
        tier's one entry (``_bucketed_scan``). A plain rewrite drops the
        catalog entry after its commit, so a failed write leaves the live
        bucketed fast path in place.
        """
        while True:
            listed = self._manifest()["tiers"].get(tier, [])
            absorbed = {e["dir"] for e in listed}

            def kept(m: dict) -> list[dict] | None:
                """The entries of ``m`` the fold keeps; None when another
                fold committed since the listing."""
                cur = m["tiers"].get(tier, [])
                new = [e for e in cur if e["dir"] not in absorbed]
                if (len(cur) - len(new) < len(absorbed)
                        or any("layout" in e for e in new)):
                    return None
                return new

            out = manifest.fresh_dir(self.store, tier, -1)
            try:
                with manifest.writing([out]):
                    partials = build(listed)
                    if cutoff is not None:
                        partials = partials.filter(
                            F.col("bin_ts") >= F.lit(cutoff).cast("timestamp"))
                    if n_buckets is None:
                        n = self._write_counted(partials, str(out))
                    else:
                        # an overwrite-saveAsTable onto a live entry would
                        # replace it before the commit
                        self._drop_bucket_table(tier)
                        write_bucketed(partials, self._bucket_table(tier),
                                       n_buckets, bucket_cols=self.keys,
                                       sort_cols=("bin_ts",), path=str(out))
                        n = None
            except Exception:
                if kept(self._manifest()) is not None:
                    raise
                continue  # that fold deleted this one's input: redo
            folded = manifest.entry(out, layout=layout)

            def change(m: dict) -> bool:
                new = kept(m)
                if new is not None:
                    m["tiers"][tier] = [folded, *new]
                return new is not None

            if manifest.commit(self.store, change,
                               {**row, "rows": n}) is not None:
                break
            shutil.rmtree(out, ignore_errors=True)
        if n_buckets is None:
            self._drop_bucket_table(tier)
        for d in absorbed:
            shutil.rmtree(self.store / f"tier_{tier}" / d, ignore_errors=True)
        return n

    def _drop_bucket_table(self, tier: str) -> None:
        try:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._bucket_table(tier)}")
        except Exception:
            pass  # catalog unavailable → there is no entry to go stale

    # --------------------------------------------------- bucketed compaction

    def _bucket_table(self, tier: str) -> str:
        """Deterministic catalog name for this store's bucketed tier (the
        store path is the identity — two stores in one session never
        collide)."""
        import hashlib

        h = hashlib.md5(str(self.store.resolve()).encode()).hexdigest()[:10]
        return f"gs_bkt_{h}_{tier.replace('-', '_')}"

    def _bucketed_scan(self, tier: str,
                       listed: list[dict]) -> DataFrame | None:
        """The verified bucketed fast path: the manifest lists one bucketed
        fold as the tier's only entry, and the catalog table is registered
        at its dir. Otherwise None (callers use the plain scan)."""
        if len(listed) != 1 or listed[0].get("layout") != "bucketed":
            return None
        tbl = self._bucket_table(tier)
        try:
            if not self.spark.catalog.tableExists(tbl):
                return None
        except Exception:
            return None
        loc = (
            self.spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
            .filter(F.col("col_name") == "Location")
            .first()
        )
        want = (self.store / f"tier_{tier}" / listed[0]["dir"]).resolve()
        if loc is None or Path(
                loc["data_type"].replace("file:", "")).resolve() != want:
            return None
        return self.spark.table(tbl)

    def compact(self, tier: str, zorder: bool = False,
                zorder_files: int = 32, bucket: int | None = None) -> None:
        """Fold all contributions into one (Iceberg: rewrite_data_files).

        ``zorder=True`` (parquet backend) rewrites the tier clustered on
        the Morton interleave of (series, bin_ts) — ``plans/zorder.py`` —
        so subsequent scans prune files/row-groups on EITHER the series or
        the time predicate (the two read patterns a tier table serves; the
        pruning is measured in tests/test_zorder.py). The rewrite shuffles
        once more than the plain fold (the rank-scale sort **is** the
        layout); correctness is untouched — ``read_tier`` merges partials
        associatively regardless of row order. On Iceberg the equivalent
        is ``rewrite_data_files`` with a zorder sort order; out of scope
        while the runtime jar is availability-gated.

        ``bucket=N`` (parquet backend, exclusive with zorder) folds into a
        BUCKETED catalog table on the series keys (plans/bucketing.py):
        every subsequent ``read_tier`` merge — a groupBy on the keys+bin
        SUPERSET of the bucket columns — plans with ZERO Exchange, turning
        the store's dominant recurring read cost into this one write-side
        shuffle. The catalog entry is advisory only: reads use it while the
        manifest lists its dir as the tier's one entry and the registered
        location matches, and fall back to the plain path scan otherwise
        (a later contribution, bucketing disabled, foreign session).
        """
        if self.backend == "iceberg":
            if zorder or bucket:
                raise ValueError(
                    "zorder/bucket compaction requires the parquet backend "
                    "(Iceberg: use rewrite_data_files with a zorder sort "
                    "order via the catalog)")
            self.iceberg.compact(tier)  # rewrite_data_files, atomic snapshot
            return
        if bucket is not None and zorder:
            raise ValueError("bucket and zorder are exclusive layouts")
        layout = "bucketed" if bucket else "zorder" if zorder else "plain"

        def fold(listed: list[dict]) -> DataFrame:
            merged = self._merged(tier, listed)
            if not zorder:
                return merged
            sid = F.xxhash64(*[F.col(k) for k in self.keys])
            z = merged.withColumn("__sid", sid).withColumn(
                "__ts", F.col("bin_ts").cast("long"))
            z = rank_scale(z, "__sid", 16, "__zs0")
            z = rank_scale(z, "__ts", 16, "__zs1")
            return (
                z.withColumn("__z", zvalue(["__zs0", "__zs1"], 16))
                .repartitionByRange(zorder_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__sid", "__ts", "__zs0", "__zs1", "__z")
            )

        self._rewrite_tier(tier, fold, {"compact": tier, "layout": layout},
                           n_buckets=bucket, layout=layout)

    def refresh_calendar(self, unit: str = "month",
                         from_tier: str = "1d") -> int:
        """Materialize (or re-fold) a CALENDAR tier from a stored fixed
        tier: ``cascade_calendar`` over the merged ``from_tier`` partials,
        written as the calendar tier's single folded contribution —
        a continuous aggregate at calendar grain, refreshed from the ~30×
        smaller 1d state, never from raw points. Re-run after new batches
        land (the fold is a full re-cascade of bin-grain rows — cheap).
        ``read_tier(unit)`` then serves it like any other tier. The
        nesting rule is ENFORCED (cascade_calendar's ``finer_unit``
        check): month→week, week→anything, or a fixed tier that straddles
        day boundaries all raise instead of folding wrong. Returns the
        row count.
        """
        from gensor_spark.operators.rollup import CALENDAR_UNITS, cascade_calendar

        if unit not in CALENDAR_UNITS:
            raise ValueError(f"unit must be one of {CALENDAR_UNITS}, got {unit!r}")
        if self.backend != "parquet":
            raise ValueError("refresh_calendar requires the parquet backend")
        return self._rewrite_tier(
            unit, lambda _: cascade_calendar(
                self.read_tier(from_tier, finalize=False), unit,
                keys=self.keys, finer_unit=from_tier),
            {"calendar_refresh": {"unit": unit, "from": from_tier}})

    def apply_retention(self, policy: dict[str, str], now) -> dict[str, str]:
        """Enforce per-tier retention windows: the 'retention' in retention
        tiers. ``policy`` maps tier → max age (any pandas Timedelta string,
        e.g. ``{'1m': '7 days', '1h': '90 days'}``); bins older than
        ``now - age`` are dropped from that tier, tiers absent from the
        policy keep everything — the classic downsample-and-expire layout
        (raw/fine tiers short-lived, coarse tiers long-lived).

        ``now`` is explicit (a timestamp / ISO string), never wall-clock —
        retention runs must be replayable. Parquet backend: a filtered fold,
        one commit per tier (doubles as compaction); Iceberg backend: a real
        ``DELETE FROM ... WHERE bin_ts < cutoff`` — an Iceberg
        metadata/partition-level delete, one atomic snapshot.

        Returns tier → ISO cutoff actually applied.
        """
        applied: dict[str, str] = {}
        for tier, age in policy.items():
            if tier not in TIERS:
                raise ValueError(f"unknown tier {tier!r}")
            cutoff = _cutoff(age, now)
            # a tier never written yet (retention scheduled before first
            # ingest) is a no-op, not an abort-mid-policy crash — both
            # backends (iceberg tier tables are created lazily on the first
            # merge_batch, so DELETE on them would raise)
            if self.backend == "parquet":
                if not self._manifest()["tiers"].get(tier):
                    continue
                self._rewrite_tier(
                    tier, lambda listed, t=tier: self._merged(t, listed),
                    {"retention": {tier: cutoff}}, cutoff=cutoff)
            elif not self.spark.catalog.tableExists(self.iceberg.table(tier)):
                continue
            else:
                self.spark.sql(
                    f"DELETE FROM {self.iceberg.table(tier)} "
                    f"WHERE bin_ts < TIMESTAMP '{cutoff}'"
                )
            applied[tier] = cutoff
        return applied

    def reset(self) -> None:
        """Empty the store: commit an empty version, then delete every dir
        but the manifest."""
        # With the iceberg backend the tier rows live in the warehouse, not
        # under store_dir — emptying only the manifest would leave stale
        # tier data that a rerun MERGEs onto. Drop the tables too.
        if self.backend == "iceberg":
            for tier in TIERS:
                self.iceberg.drop(tier)
        manifest.commit(self.store, lambda m: m.update(
            processed=[], tiers={}, epochs={}) or True, {"reset": True})
        for p in self.store.iterdir():
            if p.is_dir() and p.name != manifest.MANIFEST:
                shutil.rmtree(p)
        self._schemas.clear()
        self._frames.clear()


def read_range(
    pipeline: "TierPipeline",
    start,
    end,
    max_points: int | None = None,
    finalize: bool = True,
):
    """Resolution-aware range read: serve ``[start, end)`` from the
    COARSEST stored tier that still yields at least ``max_points`` bins per
    series — the router a dashboard zoom uses (wide span → 1d tier, tight
    span → 1m), so a year-long query reads ~365 rows per series instead of
    half a million, and the time-range predicate prunes the tier scan.

    ``max_points=None`` picks the finest stored tier (full resolution).
    The choice is metadata arithmetic (span / tier step — no data scan)
    over the tiers the store's manifest lists contributions of; a tier dir
    holding only an uncommitted write is not stored. Falls back to the
    finest stored tier when even it cannot satisfy the budget (short
    span). Returns the filtered tier frame plus the chosen tier name.
    """
    import pandas as pd

    from gensor_spark.operators.rollup import TIER_SECONDS

    # nominal bin widths for stored calendar tiers (refresh_calendar) —
    # only used for the budget arithmetic, never for binning
    cal_seconds = {"week": 604_800, "month": 2_629_746,
                   "quarter": 7_889_238, "year": 31_556_952}

    s = pd.Timestamp(start)
    e = pd.Timestamp(end)
    if e <= s:
        raise ValueError(f"empty range: {start!r} .. {end!r}")
    span = (e - s).total_seconds()
    widths = dict(TIER_SECONDS, **cal_seconds)
    ladder = [*TIERS, *cal_seconds]  # fine -> coarse
    tiers = pipeline._manifest()["tiers"]
    stored = [t for t in ladder if tiers.get(t)]
    if not stored:
        raise FileNotFoundError(f"no tiers stored under {pipeline.store}")
    chosen = stored[0]
    if max_points is not None:
        # coarsest tier whose bin count over the span still >= max_points;
        # the ladder is ordered fine->coarse, so walk from the coarse end
        for t in reversed(stored):
            if span / widths[t] >= max_points:
                chosen = t
                break
    df = pipeline.read_tier(chosen, finalize=finalize)
    out = df.filter(f"bin_ts >= CAST('{s}' AS TIMESTAMP)"
                    f" AND bin_ts < CAST('{e}' AS TIMESTAMP)")
    return out, chosen
