"""Varbyte / delta-gap unit tests (FIXTURES.md §5 round-trip vectors).

Mirrors the reference's tiny-literal-fixture unit layer
(test_remote_vector_index_builder/test_core/conftest.py:339-434 — 5x3
matrices across dtypes, asserted byte-exactly)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkbm25.codecs import (
    delta_decode,
    delta_encode,
    pack_blocks,
    unpack_block,
    vbyte_decode,
    vbyte_encode,
)

EDGE_GAPS = [1, 127, 128, 16383, 16384, 2**28]


def test_vbyte_roundtrip_edges():
    v = np.array(EDGE_GAPS + [0, 2**32, 2**56 + 5], dtype=np.uint64)
    assert vbyte_decode(vbyte_encode(v)).tolist() == v.tolist()


def test_vbyte_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0


def test_vbyte_single_byte_values():
    v = np.arange(0, 128, dtype=np.uint64)
    enc = vbyte_encode(v)
    assert len(enc) == 128  # all fit in one byte
    assert vbyte_decode(enc, count=128).tolist() == v.tolist()


def test_vbyte_count_mismatch_raises():
    with pytest.raises(ValueError):
        vbyte_decode(vbyte_encode(np.array([1, 2, 3])), count=2)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**60), max_size=300))
def test_vbyte_roundtrip_property(xs):
    v = np.array(xs, dtype=np.uint64)
    assert vbyte_decode(vbyte_encode(v)).tolist() == v.tolist()


def test_delta_roundtrip():
    ids = np.array([0, 1, 128, 16511, 16512, 2**40], dtype=np.int64)
    assert delta_decode(delta_encode(ids)).tolist() == ids.tolist()


def test_delta_rejects_nonincreasing():
    with pytest.raises(ValueError):
        delta_encode(np.array([1, 1, 2]))


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**50), min_size=1, max_size=500))
def test_delta_roundtrip_property(xs):
    ids = np.array(sorted(xs), dtype=np.int64)
    assert delta_decode(delta_encode(ids)).tolist() == ids.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40),
                 min_size=1, max_size=50, unique=True),
        min_size=1, max_size=30,
    )
)
def test_segment_codec_roundtrip(segments):
    from sparkbm25.codecs import (
        segment_delta_gaps,
        segment_delta_restore,
        slice_bytes,
        vbyte_encode_with_sizes,
    )

    segs = [np.array(sorted(s), dtype=np.int64) for s in segments]
    values = np.concatenate(segs)
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    gaps = segment_delta_gaps(values, starts)
    buf, sizes = vbyte_encode_with_sizes(gaps)
    # whole-stream restore
    restored = segment_delta_restore(
        vbyte_decode(buf, count=len(values)), starts, lens
    )
    assert restored.tolist() == values.tolist()
    # per-segment slices decode independently
    for piece, seg in zip(slice_bytes(buf, sizes, lens), segs):
        got = np.cumsum(vbyte_decode(piece, count=len(seg)).astype(np.int64))
        assert got.tolist() == seg.tolist()


def test_pack_unpack_blocks():
    n = 300
    rng = np.random.default_rng(0)
    ids = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    ub = rng.random(n)
    blocks = list(pack_blocks(ids, tfs, ub, block_size=128))
    assert [b["n_docs"] for b in blocks] == [128, 128, 44]
    got_ids, got_tfs = [], []
    for b in blocks:
        i, t = unpack_block(b["docs_vbyte"], b["tfs_vbyte"], b["n_docs"])
        got_ids.extend(i.tolist())
        got_tfs.extend(t.tolist())
        lo = b["block_id"] * 128
        assert b["first_doc"] == ids[lo]
        assert b["max_tf_norm"] == pytest.approx(ub[lo : lo + b["n_docs"]].max())
    assert got_ids == ids.tolist()
    assert got_tfs == tfs.tolist()


def test_segment_binary_slices_one_stream():
    from sparkbm25.build import segment_binary
    from sparkbm25.codecs import vbyte_encode_arrays

    vals = np.array([1, 300, 2, 70000, 5], dtype=np.uint64)
    buf, sizes = vbyte_encode_arrays(vals)
    arr = segment_binary(buf, sizes, np.array([0, 2, 4]))
    assert arr.to_pylist() == [
        vbyte_encode(vals[0:2]), vbyte_encode(vals[2:4]),
        vbyte_encode(vals[4:5]),
    ]


def test_segment_binary_rejects_int32_offset_overflow():
    """Arrow binary offsets are int32; a stream past 2^31 - 1 bytes must
    raise, not wrap into a corrupt array."""
    from sparkbm25.build import segment_binary

    sizes = np.array([1 << 30, 1 << 30], dtype=np.int64)  # 2^31 bytes
    with pytest.raises(ValueError, match="int32"):
        segment_binary(np.zeros(1, dtype=np.uint8), sizes, np.array([0, 1]))
