"""Codec round-trip identity (FIXTURES.md §3 checks), property-style."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.index.codec import (
    delta_decode,
    delta_decode_blocks,
    delta_encode,
    segmented_delta_decode,
    segmented_delta_encode,
    varint_decode,
    varint_decode_blocks,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a), len(a)), a)


@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(a), len(a)), a)


def test_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_single_byte_density():
    # dense sorted ids should cost ~1 byte per posting
    ids = np.arange(0, 100_000, 3, dtype=np.uint64)
    assert len(delta_encode(ids)) / len(ids) < 1.01


@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**40), min_size=0, max_size=40
        ),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_segmented_delta_roundtrip(segments):
    segs = [np.array(sorted(set(s)), dtype=np.uint64) for s in segments]
    counts = np.array([len(s) for s in segs], dtype=np.int64)
    flat = (
        np.concatenate(segs) if segs else np.empty(0, dtype=np.uint64)
    )
    enc = segmented_delta_encode(flat, counts)
    dec = segmented_delta_decode(enc, counts)
    assert np.array_equal(dec, flat)


def test_segmented_delta_heads_absolute():
    # two segments whose heads are SMALLER than the previous segment's
    # tail — plain delta coding would underflow; segment heads must be
    # stored absolute
    flat = np.array([100, 200, 5, 7], dtype=np.uint64)
    counts = np.array([2, 2], dtype=np.int64)
    dec = segmented_delta_decode(
        segmented_delta_encode(flat, counts), counts
    )
    assert np.array_equal(dec, flat)


def test_count_mismatch_raises():
    enc = varint_encode(np.array([1, 2, 3], dtype=np.uint64))
    with pytest.raises(ValueError):
        varint_decode(enc, 5)


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=40),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_block_batch_decode_equals_per_block(blocks):
    """Decoding a batch of blocks at once equals decoding each block."""
    ids = [np.array(sorted(b), dtype=np.uint64) for b in blocks]
    counts = [len(a) for a in ids]
    id_blobs = [delta_encode(a) for a in ids]
    val_blobs = [varint_encode(a) for a in ids]
    want = np.concatenate(ids) if ids else np.empty(0, dtype=np.uint64)
    assert np.array_equal(delta_decode_blocks(id_blobs, counts), want)
    assert np.array_equal(varint_decode_blocks(val_blobs, counts), want)


def test_block_batch_decode_checks_each_block():
    """A byte moved across a block boundary keeps the batch total but
    breaks both blocks' counts: refused, as the per-block decode does."""
    a = varint_encode(np.array([1, 300, 5], dtype=np.uint64))
    b = varint_encode(np.array([7, 70000], dtype=np.uint64))
    assert np.array_equal(
        varint_decode_blocks([a, b], [3, 2]), [1, 300, 5, 7, 70000]
    )
    with pytest.raises(ValueError):
        varint_decode_blocks([a[:-2], a[-2:] + b], [3, 2])
    with pytest.raises(ValueError):
        varint_decode_blocks([a + b[:1], b[1:]], [3, 2])
