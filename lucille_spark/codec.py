"""Delta + varbyte posting-list codec, numpy-vectorized.

Posting segments store docID *gaps* varbyte-compressed into parquet
BinaryType columns (BASELINE.json:6 "delta-encodes +
varbyte-compresses docID gaps into parquet-backed posting
segments"). All encode/decode work happens inside Arrow-batched
pandas UDFs at build/query time — numpy end to end, no per-row
Python.

Varbyte format (classic, e.g. Manning/Raghavan/Schütze IR book §5.3,
public domain knowledge): each integer is written little-endian in
7-bit groups; the high bit of every byte is a continuation flag —
1 = more bytes follow, 0 = last byte of this integer.

Property (tested with hypothesis): ``decode(encode(xs)) == xs`` for
any uint64 array; and delta round-trip for any sorted unique int64
list.
"""

from __future__ import annotations

import numpy as np

_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to varbyte bytes (vectorized)."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_encode_with_lengths(values: np.ndarray):
    """-> (encoded bytes, per-value byte lengths int64 array). The
    lengths let callers slice the buffer into sub-ranges (block
    boundaries) without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (>=1); bit_length via log2 on
    # float is unsafe for >2**53, so count with shifts
    tmp = v.copy()
    lengths = np.ones(n, dtype=np.int64)
    tmp >>= np.uint64(7)
    while tmp.any():
        lengths += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(lengths.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte offsets where each value's encoding starts
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    # fill byte-position k of every value that has >= k+1 bytes
    maxlen = int(lengths.max())
    shifted = v.copy()
    for k in range(maxlen):
        sel = lengths > k
        idx = starts[sel] + k
        byte = (shifted[sel] & _MASK7).astype(np.uint8)
        # continuation bit on all but the last byte of each value
        cont = (lengths[sel] - 1) > k
        out[idx] = byte | np.where(cont, _CONT, np.uint8(0))
        shifted[sel] >>= np.uint64(7)
    return out.tobytes(), lengths


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array (vectorized).

    Segmented-sum formulation: each byte's 7-bit payload shifts by
    7 * (its offset within its value), then np.add.reduceat sums
    each value's bytes (payloads occupy disjoint bit ranges, so add
    == or). Every step is one O(total-bytes) numpy op — no per-byte-
    position loop, no boolean-mask gathers (the previous
    loop-over-maxlen shape ran ~4M values/s; this runs ~10x that,
    which matters because bulk predecode feeds 100M+ value buffers).
    All-single-byte buffers (no continuation bits at all — common
    for tf and position-count columns) return with just a cast."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if b.size <= _DECODE_CHUNK:
        return _decode_chunk(b)
    # value-aligned chunking: decoding a 100M+ value buffer in one
    # shot allocates multi-GB index/payload temporaries, which this
    # class of VM serves at page-fault speed (measured 10.8M vals/s
    # at 224M values vs 60M at 5M). Bounded chunks keep temporaries
    # hot; the split walks back to the nearest value boundary (a
    # terminal byte), so per-chunk decodes concatenate exactly.
    parts = []
    pos = 0
    n = b.size
    while pos < n:
        end = min(pos + _DECODE_CHUNK, n)
        if end < n:
            while end > pos and (b[end - 1] & _CONT):
                end -= 1  # <= 10 steps: max varbyte length of uint64
        parts.append(_decode_chunk(b[pos:end]))
        pos = end
    return np.concatenate(parts)


_DECODE_CHUNK = 8 << 20  # bytes per decode chunk


def _decode_chunk(b: np.ndarray) -> np.ndarray:
    is_last = (b & _CONT) == 0
    if is_last.all():
        return b.astype(np.uint64)
    # index of each value's terminating byte; values end at is_last
    ends = np.flatnonzero(is_last)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    payload = (b & np.uint8(0x7F)).astype(np.uint64)
    out = payload[starts]  # low 7 bits of every value
    maxlen = int(lengths.max())
    for k in range(1, maxlen):
        # integer index of values still having a (k+1)-th byte —
        # shrinks fast on real gap/tf data (most values are 1 byte);
        # int-index gather/scatter once per k beats boolean-mask
        # "out[sel] |=" (three full-width masked passes per k)
        idx = np.flatnonzero(lengths > k)
        out[idx] |= payload[starts[idx] + k] << np.uint64(7 * k)
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 ids -> uint64 gaps (first kept as-is
    relative to a caller-supplied base; here gap[0] = ids[0])."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(a.size, dtype=np.uint64)
    if a.size == 0:
        return gaps
    gaps[0] = np.uint64(a[0])
    if a.size > 1:
        d = np.diff(a)
        if (d <= 0).any():
            raise ValueError("delta_encode requires strictly increasing ids")
        gaps[1:] = d.astype(np.uint64)
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.uint64)).astype(np.int64)


def encode_ids(sorted_ids: np.ndarray) -> bytes:
    """sorted unique int64 doc ids -> delta+varbyte bytes."""
    return varbyte_encode(delta_encode(np.asarray(sorted_ids)))


def decode_ids(buf: bytes) -> np.ndarray:
    """inverse of :func:`encode_ids` -> int64 array."""
    return delta_decode(varbyte_decode(buf))


def encode_u32s(values: np.ndarray) -> bytes:
    """Plain varbyte (no delta) for tf / position-count arrays."""
    return varbyte_encode(np.asarray(values, dtype=np.uint64))


def decode_u32s(buf: bytes) -> np.ndarray:
    return varbyte_decode(buf).astype(np.int64)

