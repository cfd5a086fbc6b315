"""Seeded input generators for the benchmark.

Every table is a pure function of ``seed`` and is written to parquet with
pyarrow, so no engine code (``gensor_spark.sources`` in particular) takes
part in making the inputs: a change to the engine cannot change what it is
measured on. Sizes are fixed per workload and do not depend on the seed
(the seed moves values and order, never the amount of work), so runs on
different seeds measure the same work.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01 00:00:00 UTC in microseconds; the engine's docs epoch
EPOCH0_US = 1_704_067_200_000_000


# ------------------------------------------------------------------- docs


@dataclass
class Docs:
    """The ``docs(doc_id, tokens, n_tok, source)`` table, held in numpy."""

    doc_id: list[str]
    source: list[str]
    tokens: list[np.ndarray]

    @property
    def n_points(self) -> int:
        return int(sum(t.size for t in self.tokens))

    def write(self, path: Path) -> None:
        table = pa.table({
            "doc_id": pa.array(self.doc_id, pa.string()),
            "tokens": pa.array(self.tokens, pa.list_(pa.int32())),
            "n_tok": pa.array([t.size for t in self.tokens], pa.int32()),
            "source": pa.array(self.source, pa.string()),
        })
        path.mkdir(parents=True, exist_ok=True)
        # several files so the scan splits across the cores
        n_files = 8
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), path / f"part-{i:02d}.parquet")


def make_docs(seed: int, n_docs: int, min_tok: int = 16, max_tok: int = 512,
              n_sources: int = 8, vocab: int = 50_000,
              hot_share: float = 0.02, hot_factor: int = 20) -> Docs:
    """Token docs with zipf-distributed sources and ``hot_share`` of the
    docs ``hot_factor`` times longer (the hot-series skew).

    Lengths are a seeded permutation of a fixed multiset, hot lengths
    included, so Σ``n_tok`` is the same for every seed.
    """
    rng = np.random.default_rng([seed, 1])
    lens = np.rint(np.linspace(min_tok, max_tok, n_docs)).astype(np.int64)
    # hot lengths spread evenly over the range, before the shuffle
    hot = np.rint(np.linspace(0, n_docs - 1, round(hot_share * n_docs))).astype(np.int64)
    lens[hot] *= hot_factor
    rng.shuffle(lens)
    p = np.arange(1, n_sources + 1, dtype=np.float64) ** -1.6
    src = rng.choice(n_sources, size=n_docs, p=p / p.sum())
    tokens = [rng.integers(0, vocab, size=n, dtype=np.int32) for n in lens]
    return Docs(
        doc_id=[f"doc_{i:06d}" for i in range(n_docs)],
        source=[f"src_{s:02d}" for s in src],
        tokens=tokens,
    )


@dataclass
class LateWave:
    """Late-arriving points for existing docs (``ingest_points_wave``)."""

    doc_idx: np.ndarray  # index into Docs, one entry per point
    ts_us: np.ndarray
    value: np.ndarray

    def table(self, docs: Docs) -> pa.Table:
        return pa.table({
            "doc_id": pa.array([docs.doc_id[i] for i in self.doc_idx], pa.string()),
            "source": pa.array([docs.source[i] for i in self.doc_idx], pa.string()),
            "seq": pa.array(np.arange(self.ts_us.size, dtype=np.int32)),
            "ts": pa.array(self.ts_us, pa.timestamp("us", tz="UTC")),
            "value": pa.array(self.value, pa.float64()),
        })


def make_late_wave(seed: int, docs: Docs, share: float = 0.05,
                   per_doc: int = 30, tick_us: int = 1_000_000) -> LateWave:
    """Up to ``per_doc`` late points for ``share`` of the docs, each half a
    tick after a distinct existing point, so they land in stored bins
    without tying on a timestamp."""
    rng = np.random.default_rng([seed, 2])
    n = len(docs.tokens)
    picked = np.sort(rng.choice(n, size=max(1, round(share * n)), replace=False))
    idx, ts, val = [], [], []
    for d in picked:
        size = docs.tokens[d].size
        pos = rng.choice(size, size=min(per_doc, size), replace=False)
        idx.append(np.full(pos.size, d))
        ts.append(EPOCH0_US + pos * tick_us + tick_us // 2)
        val.append(rng.integers(0, 50_000, size=pos.size).astype(np.float64))
    return LateWave(np.concatenate(idx), np.concatenate(ts), np.concatenate(val))


# ----------------------------------------------------------------- events

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def make_events(seed: int, n_rows: int, n_users: int, days: int) -> pa.Table:
    """An ``events`` table with the shape of the engine's testdata:
    sequential ids, ascending microsecond timestamps over ``days`` from
    2024-01-01, uniform users and types, exponential values at cent
    precision and a small JSON ``props`` column."""
    rng = np.random.default_rng([seed, 3])
    span_us = days * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n_rows)) + EPOCH0_US
    value = np.round(rng.exponential(50.0, size=n_rows), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_rows, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n_rows)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_rows)]),
    })
