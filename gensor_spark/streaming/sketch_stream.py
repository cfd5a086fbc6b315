"""Streaming sketch-tier maintenance: one contribution per epoch, any family.

Every sketch family's state (percentile histograms, HLL distinct sketches,
Misra-Gries top-k summaries, Count-Min counters) is associative, and the
incremental store (TierPipeline ``<family>_tiers``) already merges ANY set
of contributions at read. That makes the streaming form almost free of
machinery: each micro-batch's points roll up to 1m partials and land as one
more contribution directory — bins that span micro-batches simply produce
several contributions that the read-side merge combines. No watermark, no
stateful operator, no window close to wait for: late data is just another
contribution, identical to the batch pipeline's late-data waves. The rollup
and its parameters come from the same family table the batch pipeline
uses (plans/incremental.py ``_SKETCH_FAMILIES``), so the two cannot drift.

What the merge guarantees differs per family. Histogram, HLL and Count-Min
merges are exact: a streamed store reads identically to a from-scratch
batch build over the union of all epochs. The Misra-Gries merge is lossy:
a split-then-merged summary is a WEAKER certificate (larger ``err``) than a
from-scratch rollup, never a wrong one (``cnt <= true <= cnt + err``), and
equal to it when no truncation fires (per-contribution bin cardinality
<= k) — see tests/test_topk_stream.py.

Delivery: ``foreachBatch`` is at-least-once on replay, so each epoch writes
to its own ``batch=s<epoch>`` directory in overwrite mode — a replayed epoch
overwrites exactly its own contribution (the asof_stream sink contract).
Contribution ids are prefixed ``s`` so they can never collide with the batch
pipeline's integer ids (run buckets and wave·n+bucket); a TierPipeline over
the same store dir merges batch, wave and stream contributions together.

One hole overwrite-per-epoch alone can't close: ``compact_<family>`` /
``apply_<family>_retention`` FOLD contribution dirs into ``batch=-1`` and
delete them — a replay of an already-folded epoch would then re-add its
partials next to the folded copy and double-count. The fold therefore
records the absorbed stream epochs in the tier's ``_folded.json`` (written
atomically with the fold, see TierPipeline._rewrite_tier). The store's
readers and folds ignore any ``batch=s<e>`` listed there, which also covers
a fold that lands between this sink's manifest check and its write; the
sink's own skip is an early exit that keeps such dirs from being written
at all.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from gensor_spark.plans.incremental import _SKETCH_FAMILIES

KEYS = ("doc_id", "source")


def make_sketch_sink(store_dir: str, family: str,
                     keys: tuple[str, ...] = KEYS, **params):
    """The per-epoch sink function of one sketch ``family`` (exposed for
    direct replay testing): ``hist``, ``distinct``, ``topk`` or ``cms``.

    ``params`` are that family's rollup parameters — none for hist;
    distinct ``of``, ``lgk``; topk ``of``, ``k``; cms ``of``, ``depth``,
    ``width`` — with the TierPipeline constructor's defaults. Use the same values as the pipeline that reads the store.
    """
    if family not in _SKETCH_FAMILIES:
        raise ValueError(f"family must be one of {sorted(_SKETCH_FAMILIES)}, "
                         f"got {family!r}")
    fam = _SKETCH_FAMILIES[family]
    unknown = sorted(set(params) - set(fam.params))
    if unknown:
        raise TypeError(f"{family} sink parameters are {sorted(fam.params)}, "
                        f"got {unknown}")
    params = {**fam.params, **params}
    store = Path(store_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        if f"s{epoch_id}" in fam.folded(store):
            # already absorbed into batch=-1 by a fold — re-writing it
            # would only leave a dir every reader ignores
            return
        out = store / f"tier_{fam.tier}" / f"batch=s{epoch_id}"
        part = fam.rollup(batch, "1m", keys=keys, **params)
        part.write.mode("overwrite").parquet(str(out))

    return _sink


def start_sketch_sink(
    points: DataFrame,
    store_dir: str,
    family: str,
    keys: tuple[str, ...] = KEYS,
    trigger_once: bool = False,
    checkpoint_dir: str | None = None,
    **params,
):
    """Stream of point rows → per-epoch 1m ``family`` contributions under
    ``{store_dir}/tier_<family>_1m/batch=s<epoch>`` (the TierPipeline
    sketch store layout — the pipeline's ``read_*`` on the same store folds
    stream, batch and wave contributions into one view)."""
    sink = make_sketch_sink(store_dir, family, keys, **params)
    writer = (
        points.writeStream.foreachBatch(sink)
        .option("checkpointLocation",
                checkpoint_dir or f"{store_dir}/_{family}_checkpoints")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
