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

Delivery: ``foreachBatch`` is at-least-once on replay, so each epoch is
one contribution ``s<epoch>``, committed through the store's manifest
(plans/manifest.py) like the batch pipeline's: its partials go to a fresh
``tier_<family>_1m/batch=s<epoch>-*`` dir, and one commit lists it. The
``s`` prefix keeps epoch ids apart from the batch pipeline's integer ids
(run buckets and wave·n+bucket); a TierPipeline over the same store dir
merges batch, wave and stream contributions together.

A sink skips every epoch the manifest has committed, whether it still
lists the epoch's dir or a fold (``compact_<family>`` /
``apply_<family>_retention``) absorbed it: before writing, and again inside
the commit, so a replay racing a fold or another replay of the same epoch
counts it once. A fold keeps an epoch committed after its listing.

Crash windows: a kill before the commit leaves an unlisted dir that no read
sees, and the replay writes the epoch again; a kill after it leaves the
epoch committed, and the replay skips it.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from gensor_spark.plans import manifest
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
        sid = f"s{epoch_id}"
        if manifest.committed(manifest.newest(store), sid, [fam.tier]):
            return
        out = manifest.fresh_dir(store, fam.tier, sid)
        with manifest.writing([out]):
            fam.rollup(batch, "1m", keys=keys, **params).write.parquet(
                str(out))
        manifest.add(store, sid, {fam.tier: out},
                     {"epoch": sid, "tier": fam.tier})

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
    ``{store_dir}/tier_<family>_1m/batch=s<epoch>-*`` (the TierPipeline
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
