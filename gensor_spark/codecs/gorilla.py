"""Delta-of-delta timestamp + Gorilla-style XOR value compression, vectorized.

Based on the public Gorilla paper (Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015), with one bit width
per stream per series instead of the paper's per-point widths, so encode
and decode are whole-array numpy with no per-point Python and no
sequential bit reader:

- timestamps (int64 microseconds): ``ts0`` and the first delta are 8-byte
  header fields; the remaining delta-of-deltas are zigzagged and stored at
  the series' max-dod width (0 bits for a perfectly regular series — the
  common case for tokenized docs, where ts is affine in seq);
- values (float64, XOR of consecutive raw bit patterns): a 1-bit ctrl per
  point marks ``xor == 0``; nonzero xors store ``xor >> tz_anchor`` at one
  window width per series — Gorilla's "reuse previous window" mode taken
  to its limit, so there is no per-point (leading zeros, length) meta.

Blob layout, each stream byte-aligned, MSB first::

    u32 n | i64 ts0 | i64 delta1 | u8 w_ts | ts payload |
    ctrl bits | u8 tz_anchor | u8 w_val | val payload

``n == 0`` stops after ``n``; ``n == 1`` omits ``delta1``, ``w_ts`` and
the ts payload.

Round-trip is bit-exact — the token-array-equality gate of BASELINE.json.
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64


# ---------------------------------------------------------------- bit kernels

def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).astype(_U64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    z = z.astype(_U64)
    return ((z >> _U64(1)).astype(np.int64)) ^ -(z & _U64(1)).astype(np.int64)


def _pack_fixed(vals: np.ndarray, w: int) -> bytes:
    """Pack each value's low ``w`` bits, MSB-first."""
    if w == 0 or vals.size == 0:
        return b""
    bits64 = np.unpackbits(vals.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    return np.packbits(bits64[:, 64 - w:].ravel()).tobytes()


def _unpack_fixed(buf: bytes, n: int, w: int) -> np.ndarray:
    if w == 0 or n == 0:
        return np.zeros(n, dtype=_U64)
    bits = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), count=n * w
    ).reshape(n, w)
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, 64 - w:] = bits
    return np.packbits(full, axis=1).copy().view(">u8").astype(_U64).ravel()


# ----------------------------------------------------------------- series API

def encode_series(ts_us: np.ndarray, values: np.ndarray) -> bytes:
    """One series' points → one binary blob (layout in the module doc)."""
    ts = np.asarray(ts_us, dtype=np.int64)
    x = np.ascontiguousarray(values, dtype=np.float64).view(_U64)
    n = ts.size
    out = [struct.pack("<I", n)]
    if n == 0:
        return b"".join(out)
    out.append(struct.pack("<q", int(ts[0])))
    if n >= 2:
        out.append(struct.pack("<q", int(ts[1] - ts[0])))
        delta = np.diff(ts)
        dod = np.diff(delta)  # length n-2
        z = _zigzag(dod)
        # only the MAX width matters — a scalar bit_length, no vector clz
        w_ts = int(z.max()).bit_length() if z.size else 0
        out.append(struct.pack("<B", w_ts))
        out.append(_pack_fixed(z, w_ts))

    xor = x ^ np.concatenate([[_U64(0)], x[:-1]])
    nz = xor != 0
    out.append(_pack_fixed(nz.astype(_U64), 1))
    if nz.any():
        xnz = xor[nz]
        # min trailing zeros across elements == trailing zeros of the OR
        orall = int(np.bitwise_or.reduce(xnz))
        tz_anchor = (orall & -orall).bit_length() - 1
        shifted = xnz >> _U64(tz_anchor)
        w_val = int(shifted.max()).bit_length()
        out.append(struct.pack("<BB", tz_anchor, w_val))
        out.append(_pack_fixed(shifted, w_val))
    else:
        out.append(struct.pack("<BB", 0, 0))
    return b"".join(out)


def decode_series(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``encode_series``: ``(ts_us, values)``, bit-exact."""
    (n,) = struct.unpack_from("<I", blob, 0)
    off = 4
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    (ts0,) = struct.unpack_from("<q", blob, off)
    off += 8
    if n >= 2:
        (delta1,) = struct.unpack_from("<q", blob, off)
        off += 8
        (w_ts,) = struct.unpack_from("<B", blob, off)
        off += 1
        nb = ((n - 2) * w_ts + 7) // 8
        dod = _unzigzag(_unpack_fixed(blob[off : off + nb], n - 2, w_ts))
        off += nb
        delta = delta1 + np.concatenate([[0], np.cumsum(dod)])
        ts = ts0 + np.concatenate([[0], np.cumsum(delta)])
    else:
        ts = np.array([ts0], dtype=np.int64)

    nb = (n + 7) // 8
    ctrl = _unpack_fixed(blob[off : off + nb], n, 1).astype(bool)
    off += nb
    tz_anchor, w_val = struct.unpack_from("<BB", blob, off)
    off += 2
    n1 = int(ctrl.sum())
    nb = (n1 * w_val + 7) // 8
    sig = _unpack_fixed(blob[off : off + nb], n1, w_val)
    xor = np.zeros(n, dtype=_U64)
    xor[ctrl] = sig << _U64(tz_anchor)
    x = np.bitwise_xor.accumulate(xor)
    return ts.astype(np.int64), x.view(np.float64).copy()


# ---------------------------------------------------------------- Spark layer

EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
TICK_US = 60_000_000


def encode_docs(docs, tick_us: int = TICK_US, epoch0_us: int = EPOCH0_US):
    """docs(doc_id, tokens, n_tok, source) → (doc_id, source, n_tok, blob).

    mapInPandas: Arrow batches in, vectorized numpy codec per series. The
    per-batch loop is over *series* (rows), never points — identical shape to
    Spark's own grouped processing.
    """
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            blobs = []
            for toks in pdf["tokens"]:
                t = np.asarray(toks, dtype=np.int64)
                ts = epoch0_us + np.arange(t.size, dtype=np.int64) * tick_us
                blobs.append(encode_series(ts, t.astype(np.float64)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_tok": pdf["n_tok"],
                    "blob": blobs,
                }
            )

    return docs.mapInPandas(
        enc, schema="doc_id string, source string, n_tok int, blob binary"
    )


def decode_docs(encoded):
    """Inverse of encode_docs; reconstructs the exact token arrays."""
    import pandas as pd

    def dec(batches):
        for pdf in batches:
            toks = []
            for blob in pdf["blob"]:
                _, vals = decode_series(bytes(blob))
                toks.append(vals.astype(np.int32))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_tok": pdf["n_tok"],
                    "tokens": toks,
                }
            )

    return encoded.mapInPandas(
        dec, schema="doc_id string, source string, n_tok int, tokens array<int>"
    )
