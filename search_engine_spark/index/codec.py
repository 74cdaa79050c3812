"""Delta + varint (LEB128) posting-block codec, numpy-vectorized.

The reference delegates posting-list storage to Elasticsearch/Lucene
(backend/indexer_service/indexer.py:163-206); this engine owns the
physical format (north rule): sorted doc-id gaps packed as LEB128
varints into a binary column, with tf and doclen arrays packed the same
way alongside, so BM25 scoring needs no join back to a doc-length table.

Both encode and decode are vectorized: encode builds an (n, 10) byte
matrix and masks out unused lanes; decode reduces 7-bit groups with
np.add.reduceat.  No per-int Python loops.
"""

from __future__ import annotations

import numpy as np

_SHIFTS = (np.arange(10, dtype=np.uint64) * np.uint64(7))
_THRESHOLDS = (np.uint64(1) << (_SHIFTS[1:]))  # 2^7, 2^14, ... 2^63


def varint_encode_with_nbytes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a 1-D array, also returning each value's encoded
    byte length.  Block packers varint ONE concatenated stream and
    slice per-block payloads out by byte offsets from the lengths.

    Lane-scatter formulation: byte k of every value lands via one
    fancy-indexed store per lane, with lanes beyond the largest value's
    width skipped entirely — posting gaps/tfs/doclens are almost all
    1-2 bytes, so this runs 2-3 O(n) passes instead of materializing
    an (n, 10) lane matrix (which was measured memory-bound ~5x slower
    on multi-million-row streams)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # bytes per value = 1 + #thresholds <= value: one binary search
    # against the 9 width thresholds instead of 9 full compare passes
    nbytes = 1 + np.searchsorted(_THRESHOLDS, a, side="right")
    offs = np.cumsum(nbytes) - nbytes  # start offset of each value
    out = np.empty(int(offs[-1] + nbytes[-1]), dtype=np.uint8)
    max_nb = int(nbytes.max())
    for k in range(max_nb):
        mask = nbytes > k
        vals = a[mask] if k else a  # lane 0 covers every value
        idx = (offs[mask] if k else offs) + k
        byte = ((vals >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nbytes[mask] if k else nbytes) - 1) > k
        out[idx] = byte | (cont.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative ints."""
    return varint_encode_with_nbytes(values)[0]


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    starts = np.empty(int(is_last.sum()), dtype=np.int64)
    starts[0] = 0
    if starts.size > 1:
        starts[1:] = np.flatnonzero(is_last)[:-1] + 1
    pos_in_group = np.arange(b.size, dtype=np.int64) - np.repeat(
        starts, np.diff(np.append(starts, b.size))
    )
    vals = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos_in_group.astype(np.uint64)
    )
    out = np.add.reduceat(vals, starts)
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} values, expected {count}")
    return out.astype(np.uint64)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Gap-encode a sorted int array (first value absolute) then varint."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    gaps = varint_decode(buf, count)
    return np.cumsum(gaps, dtype=np.uint64)


def segmented_delta_encode_with_nbytes(
    flat: np.ndarray, counts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """segmented_delta_encode that also returns each value's encoded
    byte length, so block packers can slice per-block payloads out of
    ONE encoded stream by byte offset (block boundaries always fall on
    segment heads, which stay absolute, so the slices are identical to
    encoding each block separately)."""
    a = np.ascontiguousarray(flat, dtype=np.uint64)
    c = np.asarray(counts, dtype=np.int64)
    if a.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    starts = np.zeros(len(c), dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    starts = starts[c > 0]
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    gaps[starts] = a[starts]  # segment heads stay absolute
    return varint_encode_with_nbytes(gaps)


def segmented_delta_encode(flat: np.ndarray, counts: np.ndarray) -> bytes:
    """Gap-encode CONCATENATED sorted segments (each segment's first
    value absolute) then varint the whole stream.

    This is the positional-postings payload (Lucene .prx analogue): one
    block stores each doc's sorted term positions back-to-back; `counts`
    (positions per doc, varint-encoded alongside) delimits the segments
    at decode time.  Vectorized: one subtract over the flat array with
    the segment heads patched back to absolute values.
    """
    return segmented_delta_encode_with_nbytes(flat, counts)[0]


def segmented_delta_decode(
    buf: bytes, counts: np.ndarray, total: int | None = None
) -> np.ndarray:
    """Inverse of segmented_delta_encode: returns the flat concatenated
    positions array; split with np.split(cumsum(counts)[:-1]) if per-doc
    arrays are needed.  Segmented cumsum without a Python loop:
    global-cumsum the gaps, then subtract each segment's preceding
    prefix (standard reduceat trick)."""
    c = np.asarray(counts, dtype=np.int64)
    gaps = varint_decode(buf, total if total is not None else int(c.sum()))
    return _segment_cumsum(gaps, c)


def _segment_cumsum(gaps: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Cumulative sum restarted at every segment of `c` values."""
    if gaps.size == 0:
        return gaps
    starts = np.zeros(len(c), dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    starts = starts[c > 0]
    run = np.cumsum(gaps, dtype=np.uint64)
    # value to subtract in each segment = run[start-1] (0 for first)
    base = np.zeros(len(starts), dtype=np.uint64)
    base[1:] = run[starts[1:] - 1]
    seg_len = np.diff(np.append(starts, gaps.size))
    return run - np.repeat(base, seg_len)


def varint_decode_blocks(blobs, counts) -> np.ndarray:
    """varint_decode of many blocks in one vectorized pass over their
    concatenated bytes (a posting batch's per-block numpy overhead
    otherwise dominates its decode).  Returns the values concatenated
    in block order; raises ValueError unless every block holds exactly
    its count of whole values."""
    c = np.asarray(counts, dtype=np.int64)
    buf = b"".join(blobs)
    b = np.frombuffer(buf, dtype=np.uint8)
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(c))
    ends = np.cumsum(lens)
    is_last = (b & 0x80) == 0
    seen = np.concatenate(([0], np.cumsum(is_last)))[ends]
    if not (
        np.array_equal(seen, np.cumsum(c)) and is_last[ends[lens > 0] - 1].all()
    ):
        raise ValueError("posting blocks do not hold their counts of varints")
    return varint_decode(buf, int(c.sum()))


def delta_decode_blocks(blobs, counts) -> np.ndarray:
    """delta_decode of many blocks at once: each block's first value is
    absolute, so the gaps cumsum restarts at every block.  uint64
    wrap-around makes the running sum exact whatever its size."""
    c = np.asarray(counts, dtype=np.int64)
    return _segment_cumsum(varint_decode_blocks(blobs, c), c)
