"""Arrow kernel: scan-local MinHash signatures (guide §4.2).

Computes (doc_id, h0..h{n-1}) per document inside one ``mapInArrow``
pass — the signature never leaves the scan task, so the JVM pipeline's
Generate(explode) → partial HashAggregate → Exchange → final
HashAggregate collapses to a single narrow stage with ZERO shuffle.
Signatures equal min((a·x + b) mod p) over Spark's own ``xxhash64`` of
``dedup._shingle_array`` (pinned by tests/test_xxh64_np.py): the shingle
hash is the numpy XXH64 replica of Spark's ``xxhash64`` (xxh64_np.py,
parity-pinned), masked to 28 bits, and the (a, b) params are
``dedup._minhash_params``.

The shingle trick: ``_shingle_array`` builds word k-shingles of
``split(text, ' ')`` joined by a single space — but k consecutive
tokens of a single-space split are EXACTLY the contiguous byte slice of
the original text from token i's first byte to token i+k−1's last byte
(every boundary in between is one 0x20 by construction). So the kernel
never materializes a shingle string: it finds space positions in the
Arrow UTF-8 value buffer, derives per-row token starts, and hashes
byte SLICES of the original buffer. Duplicate shingles are NOT
deduplicated (array_distinct upstream) — duplicates cannot change a
min, so signatures are unaffected.

Row contract: one output row per input row with ≥1 shingle (docs with
fewer than k tokens emit nothing — same as the explode path). Input
rows are treated independently: the corpus contract is unique doc_ids
(the groupBy path would merge duplicate ids; every caller feeds a
unique-id corpus).

100 TB posture: per-batch bounded memory, no driver state, no shuffle;
the Python boundary crosses (doc_id, text) once — the columns the
function needs and nothing else (guide §4.1).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable, Iterator

import numpy as np

_MASK28 = np.int64((1 << 28) - 1)
_P31 = np.int64(2147483647)


@lru_cache(maxsize=None)
def signature_schema(num_hashes: int) -> str:
    return "doc_id long, " + ", ".join(f"h{i} long" for i in range(num_hashes))


def _string_parts(arr):
    """(values uint8 ndarray, offsets int64 ndarray) of an Arrow
    string/large_string array, honoring the array's slice offset.
    Null rows keep valid (possibly empty) offset ranges in Arrow, so
    nulls simply contribute their stored range — for text this means a
    null behaves like its backing bytes; Spark ships nulls with empty
    ranges."""
    import pyarrow as pa

    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    offs = offs.astype(np.int64, copy=False)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return data, offs


def _null_mask(arr) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    import pyarrow.compute as pc

    return np.asarray(pc.is_null(arr))


def make_signature_fn(k: int, num_hashes: int) -> Callable:
    """mapInArrow function: (doc_id, text) batches → signature batches."""
    from zestdb_spark.functions.dedup import _minhash_params

    params = _minhash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)

    def compute(it: Iterator) -> Iterator:
        import pyarrow as pa

        from zestdb_spark.functions.xxh64_np import xxh64_slices

        for batch in it:
            nulls = _null_mask(batch.column(1))
            if nulls is not None:
                # null text → no tokens → no shingles: the explode path
                # drops the row; drop it here before any offset math
                batch = batch.filter(pa.array(~nulls))
            nrows = batch.num_rows
            if nrows == 0:
                continue
            doc_id = batch.column(0)
            text = batch.column(1)
            data, offs = _string_parts(text)
            lo, hi = int(offs[0]), int(offs[-1])
            # global space positions inside this batch's value region
            spaces = lo + np.nonzero(data[lo:hi] == 0x20)[0]
            space_row = np.searchsorted(offs, spaces, side="right") - 1
            ns = np.bincount(space_row, minlength=nrows).astype(np.int64)
            # per-row extended token starts: [row_start, each space+1,
            # row_end+1 sentinel] — shingle j spans
            # [ext[j], ext[j+k] - 1) within a row
            counts = ns + 2
            base = np.zeros(nrows, dtype=np.int64)
            np.cumsum(counts[:-1], out=base[1:])
            ext = np.empty(int(counts.sum()), dtype=np.int64)
            ext[base] = offs[:-1]
            ext[base + ns + 1] = offs[1:] + 1
            if len(spaces):
                cum = np.zeros(nrows, dtype=np.int64)
                np.cumsum(ns[:-1], out=cum[1:])
                within = np.arange(len(spaces), dtype=np.int64) - cum[space_row]
                ext[base[space_row] + 1 + within] = spaces + 1
            # shingle count per row: tokens − k + 1, floored at 0
            nsh = np.maximum(ns + 2 - k, 0)
            tot = int(nsh.sum())
            if tot == 0:
                continue
            live = nsh > 0
            row_of_sh = np.repeat(np.arange(nrows, dtype=np.int64), nsh)
            seg = np.zeros(nrows, dtype=np.int64)
            np.cumsum(nsh[:-1], out=seg[1:])
            within_sh = np.arange(tot, dtype=np.int64) - seg[row_of_sh]
            s_idx = base[row_of_sh] + within_sh
            sh_start = ext[s_idx]
            sh_len = ext[s_idx + k] - 1 - sh_start
            x = (
                xxh64_slices(data, sh_start, sh_len).view(np.int64) & _MASK28
            )
            # universal hashes: (a·x + b) mod p — a < 2³¹, x < 2²⁸ →
            # products < 2⁵⁹, exact in int64 (same bound the JVM
            # expression relies on under ANSI mode). One contiguous 1-D
            # pass per hash: the 2-D broadcast formulation measured
            # ~100× slower on this host (strided int64 inner loops);
            # 64 sequential vector ops + segmented mins are ~0.1 s per
            # million shingles
            starts = seg[live]
            ids = doc_id.take(pa.array(np.nonzero(live)[0]))
            cols = [ids]
            for i in range(num_hashes):
                y = (A[i] * x + B[i]) % _P31
                cols.append(pa.array(np.minimum.reduceat(y, starts)))
            names = ["doc_id"] + [f"h{i}" for i in range(num_hashes)]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return compute
