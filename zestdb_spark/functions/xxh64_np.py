"""Vectorized XXH64 (xxHash, 64-bit) over byte-slice batches in numpy.

Bit-exact replica of Spark's ``xxhash64`` expression for STRING input
(XXH64 over the UTF-8 bytes, seed 42, signed-long result) — pinned by
tests/test_xxh64_np.py against ``F.xxhash64`` on adversarial and
corpus-derived inputs. Public algorithm (Yann Collet's xxHash spec,
https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md); the
implementation here vectorizes it over MANY variable-length slices of
one contiguous buffer by bucketing slices per exact byte length (every
slice of one length follows the identical code path, so each bucket is
a fixed-width (rows, len) matrix hashed with whole-column numpy ops).

Used by the Arrow MinHash kernel (minhash_kernel.py) so signature
computation can stay scan-local — no explode, no aggregation exchange —
while hashing exactly as Spark's ``xxhash64`` does.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

_P1 = U64(11400714785074694791)
_P2 = U64(14029467366897019727)
_P3 = U64(1609587929392839161)
_P4 = U64(9650029242287828579)
_P5 = U64(2870177450012600261)

_SPARK_SEED = U64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = U64(r)
    return (x << r) | (x >> (U64(64) - r))


def _round(acc, inp):
    acc = acc + inp * _P2
    acc = _rotl(acc, 31)
    return acc * _P1


def _merge_round(h, v):
    h = h ^ _round(U64(0), v)
    return h * _P1 + _P4


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> U64(33))
    h = h * _P2
    h = h ^ (h >> U64(29))
    h = h * _P3
    h = h ^ (h >> U64(32))
    return h


def _hash_fixed_len(mat: np.ndarray, length: int, seed: np.uint64) -> np.ndarray:
    """XXH64 of every row of a (m, padded) uint8 matrix whose true
    payload is the first ``length`` bytes (padding is never read:
    every access below stays inside ``length``, the pad only aligns
    the uint64 word view)."""
    m = mat.shape[0]
    words = np.ascontiguousarray(mat).view(np.uint64)  # (m, padded // 8)

    n_stripes = length // 32
    if n_stripes:
        v1 = np.full(m, seed + _P1 + _P2, dtype=np.uint64)
        v2 = np.full(m, seed + _P2, dtype=np.uint64)
        v3 = np.full(m, seed, dtype=np.uint64)
        v4 = np.full(m, seed - _P1, dtype=np.uint64)
        for s in range(n_stripes):
            base = s * 4
            v1 = _round(v1, words[:, base])
            v2 = _round(v2, words[:, base + 1])
            v3 = _round(v3, words[:, base + 2])
            v4 = _round(v4, words[:, base + 3])
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = np.full(m, seed + _P5, dtype=np.uint64)

    h = h + U64(length)

    off = n_stripes * 32
    rem = length - off
    for w in range(rem // 8):
        k1 = _round(U64(0), words[:, off // 8 + w])
        h = h ^ k1
        h = _rotl(h, 27) * _P1 + _P4
    off += (rem // 8) * 8
    if length - off >= 4:
        u32 = (
            np.ascontiguousarray(mat[:, off : off + 4]).view(np.uint32)[:, 0]
        ).astype(np.uint64)
        h = h ^ (u32 * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        off += 4
    for i in range(length - off):
        b = mat[:, off + i].astype(np.uint64)
        h = h ^ (b * _P5)
        h = _rotl(h, 11) * _P1
    return _avalanche(h)


def xxh64_slices(
    buf: np.ndarray,
    starts: np.ndarray,
    lengths: np.ndarray,
    seed: int = 42,
) -> np.ndarray:
    """XXH64 of ``n`` byte slices ``buf[starts[i] : starts[i]+lengths[i]]``
    → uint64 array of n hashes. Slices are bucketed by exact length;
    each bucket is gathered into a zero-padded fixed-width matrix and
    hashed with whole-column vector ops."""
    n = len(starts)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    seed = U64(seed)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    with np.errstate(over="ignore"):
        for length in np.unique(lengths):
            sel = np.nonzero(lengths == length)[0]
            length = int(length)
            if length == 0:
                # no bytes read: h = seed + P5 (+0 length), avalanche
                out[sel] = _avalanche(
                    np.full(len(sel), seed + _P5, dtype=np.uint64)
                )
                continue
            padded = ((length + 7) // 8) * 8
            idx = starts[sel, None] + np.arange(padded, dtype=np.int64)[None, :]
            # clip the pad columns instead of branching: padded bytes are
            # never read by _hash_fixed_len, any in-bounds index will do
            np.clip(idx, 0, len(buf) - 1, out=idx)
            mat = buf[idx]
            if padded != length:
                mat[:, length:] = 0
            out[sel] = _hash_fixed_len(mat, length, seed)
    return out
