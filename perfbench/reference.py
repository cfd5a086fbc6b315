"""Independent answers the benchmark checks the engine against.

Tier answers come from numpy over the generated docs (a doc's point ``i``
sits at ``EPOCH0 + i`` seconds, so a tier bin is a fixed slice of its
token array). Registry queries with a DuckDB oracle are compared the way
the engine's driver gate does: row count plus an order-free value hash.
"""

from __future__ import annotations

import hashlib

import numpy as np

from inputs import EPOCH0_US, Docs, LateWave

TIER_S = {"1m": 60, "1h": 3600, "1d": 86400}


class TierReference:
    """Per-doc points (generated docs plus any late wave) and the finalized
    tier rows they must produce."""

    def __init__(self, docs: Docs, wave: LateWave | None = None) -> None:
        self.docs = docs
        self.ts_us: list[np.ndarray] = []
        self.val: list[np.ndarray] = []
        extra: dict[int, list[int]] = {}
        if wave is not None:
            for j, d in enumerate(wave.doc_idx):
                extra.setdefault(int(d), []).append(j)
        for d, toks in enumerate(docs.tokens):
            ts = EPOCH0_US + np.arange(toks.size, dtype=np.int64) * 1_000_000
            val = toks.astype(np.float64)
            if d in extra:
                j = np.array(extra[d])
                ts = np.concatenate([ts, wave.ts_us[j]])
                val = np.concatenate([val, wave.value[j]])
                order = np.argsort(ts, kind="stable")
                ts, val = ts[order], val[order]
            self.ts_us.append(ts)
            self.val.append(val)

    @property
    def n_points(self) -> int:
        return int(sum(v.size for v in self.val))

    def bins(self, d: int, tier: str, lo_us: int | None = None,
             hi_us: int | None = None) -> list[tuple]:
        """Finalized rows ``(bin_us, count, min, max, mean, last)`` of doc
        ``d`` at ``tier``, for bins starting in ``[lo_us, hi_us)``."""
        step = TIER_S[tier] * 1_000_000
        ts, val = self.ts_us[d], self.val[d]
        b = (ts // step) * step
        cut = np.flatnonzero(np.diff(b)) + 1
        starts = np.concatenate([[0], cut])
        ends = np.concatenate([cut, [b.size]])
        rows = []
        for s, e in zip(starts, ends):
            bin_us = int(b[s])
            if (lo_us is not None and bin_us < lo_us) or (
                    hi_us is not None and bin_us >= hi_us):
                continue
            v = val[s:e]
            rows.append((bin_us, int(v.size), float(v.min()), float(v.max()),
                         float(v.sum()) / v.size, float(v[-1])))
        return rows

    def quantiles(self, d: int, tier: str, ps=(0.5, 0.95, 0.99)) -> list[tuple]:
        """Per-bin linear-interpolation quantiles ``(bin_us, *ps)``."""
        step = TIER_S[tier] * 1_000_000
        ts, val = self.ts_us[d], self.val[d]
        b = (ts // step) * step
        return [(int(u), *map(float, np.quantile(val[b == u], ps)))
                for u in np.unique(b)]

    def window_by_source(self, tier: str, lo_us: int, hi_us: int) -> dict:
        """source → (Σcnt, min, max, Σvalue) over points whose ``tier`` bin
        starts in ``[lo_us, hi_us)``."""
        step = TIER_S[tier] * 1_000_000
        out: dict[str, list] = {}
        for d, src in enumerate(self.docs.source):
            b = (self.ts_us[d] // step) * step
            v = self.val[d][(b >= lo_us) & (b < hi_us)]
            if not v.size:
                continue
            acc = out.setdefault(src, [0, np.inf, -np.inf, 0.0])
            acc[0] += int(v.size)
            acc[1] = min(acc[1], float(v.min()))
            acc[2] = max(acc[2], float(v.max()))
            acc[3] += float(v.sum())
        return {k: tuple(v) for k, v in out.items()}

    def tier_digest(self, tier: str) -> str:
        lines = []
        for d, doc_id in enumerate(self.docs.doc_id):
            src = self.docs.source[d]
            lines += [row_line(doc_id, src, *r) for r in self.bins(d, tier)]
        return digest(lines)


def row_line(doc_id, source, bin_us, count, vmin, vmax, mean, last) -> str:
    return f"{doc_id}|{source}|{bin_us}|{count}|{vmin!r}|{vmax!r}|{mean!r}|{last!r}"


def digest(lines: list[str]) -> str:
    return hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest()


def value_hash(df) -> tuple[str, int]:
    """Row count and order-free hash of a pandas frame, every value as
    text, columns in name order (the engine driver's comparison)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted(map("|".join, df.values.tolist()))
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(df)
