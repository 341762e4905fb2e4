"""Varbyte/delta codec property tests (FIXTURES.md §2)."""

from unittest.mock import patch

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucille_spark import codec
from lucille_spark.codec import (
    decode_ids,
    decode_u32s,
    encode_ids,
    encode_u32s,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**53), min_size=1, max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_varbyte_ids_roundtrip(xs):
    ids = np.array(sorted(set(xs)), dtype=np.int64)
    assert np.array_equal(decode_ids(encode_ids(ids)), ids)


@given(st.lists(st.integers(min_value=0, max_value=10**6), max_size=300))
@settings(max_examples=100, deadline=None)
def test_u32_roundtrip(xs):
    arr = np.array(xs, dtype=np.int64)
    assert np.array_equal(decode_u32s(encode_u32s(arr)), arr)


def test_empty():
    assert varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_known_values():
    # 0 -> 0x00 ; 127 -> 0x7f ; 128 -> 0x80 0x01 (LE 7-bit groups)
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


def test_varbyte_lengths_slicing():
    """Block slicing contract: whole-array encoding sliced at
    byte offsets from the lengths array == per-block encoding."""
    from lucille_spark.codec import varbyte_encode_with_lengths

    vals = np.array([0, 1, 127, 128, 300000, 5, 2**40], dtype=np.uint64)
    buf, lens = varbyte_encode_with_lengths(vals)
    assert int(lens.sum()) == len(buf)
    cum = np.concatenate(([0], np.cumsum(lens)))
    for i in range(len(vals)):
        piece = buf[cum[i]:cum[i + 1]]
        assert np.array_equal(
            varbyte_decode(piece), vals[i : i + 1]
        )


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=40),
        max_size=12,
    ),
    # >= 10 bytes, the longest varbyte value: a chunk boundary always
    # has a value end to walk back to
    st.integers(min_value=10, max_value=40),
)
@settings(max_examples=300, deadline=None)
def test_chunked_decode_matches_whole(blocks, chunk):
    """A buffer larger than _DECODE_CHUNK is decoded in chunks split
    at value boundaries. Chunked and whole decodes agree, and decoding
    the concatenation of per-block buffers equals concatenating the
    per-block decodes (what exec_wand.decode_postings relies on)."""
    values = np.array([v for b in blocks for v in b], dtype=np.uint64)
    bufs = [varbyte_encode(np.array(b, dtype=np.uint64)) for b in blocks]
    joined = b"".join(bufs)
    whole = varbyte_decode(joined)
    with patch.object(codec, "_DECODE_CHUNK", chunk):
        chunked = varbyte_decode(joined)
        per_block = [varbyte_decode(b) for b in bufs]
    assert np.array_equal(whole, values)
    assert np.array_equal(chunked, values)
    assert np.array_equal(
        np.concatenate([np.empty(0, np.uint64)] + per_block), values
    )
