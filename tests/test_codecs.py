"""Varbyte / delta-gap unit tests (FIXTURES.md §5 round-trip vectors).

Mirrors the reference's tiny-literal-fixture unit layer
(test_remote_vector_index_builder/test_core/conftest.py:339-434 — 5x3
matrices across dtypes, asserted byte-exactly)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkbm25.build import segment_binary
from sparkbm25.codecs import (
    decode_blocks,
    segment_delta_gaps,
    segment_delta_restore,
    vbyte_decode,
    vbyte_encode,
    vbyte_encode_arrays,
)

EDGE_GAPS = [1, 127, 128, 16383, 16384, 2**28]


def _delta_roundtrip(ids: np.ndarray) -> np.ndarray:
    """One segment through segment_delta_gaps + varbyte and back."""
    zero = np.array([0], dtype=np.int64)
    gaps = segment_delta_gaps(ids, zero)
    buf, _ = vbyte_encode_arrays(gaps)
    return segment_delta_restore(
        vbyte_decode(buf.tobytes(), len(ids)), zero,
        np.array([len(ids)], dtype=np.int64),
    )


def _encode_blocks(ids: np.ndarray, tfs: np.ndarray, block_size: int):
    """One term's postings cut into blocks the way the merge writes them:
    (n_docs, docs, tfs) Arrow columns, each block's doc ids restarting
    the delta at its first id, one varbyte stream per column sliced per
    block (segment_binary)."""
    import pyarrow as pa

    starts = np.arange(0, len(ids), block_size, dtype=np.int64)
    n_docs = np.diff(np.r_[starts, len(ids)]).astype(np.int32)
    docs_buf, docs_sz = vbyte_encode_arrays(segment_delta_gaps(ids, starts))
    tfs_buf, tfs_sz = vbyte_encode_arrays(tfs)
    return (pa.array(n_docs, pa.int32()),
            segment_binary(docs_buf, docs_sz, starts),
            segment_binary(tfs_buf, tfs_sz, starts))


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
    assert _delta_roundtrip(ids).tolist() == ids.tolist()
    neg = np.array([-(2**62), -5, 0, 2**62], dtype=np.int64)  # hash64 ids
    assert _delta_roundtrip(neg).tolist() == neg.tolist()


def test_delta_rejects_nonincreasing():
    with pytest.raises(ValueError):
        segment_delta_gaps(np.array([1, 1, 2]), np.array([0]))


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**50), min_size=1, max_size=500))
def test_delta_roundtrip_property(xs):
    ids = np.array(sorted(xs), dtype=np.int64)
    assert _delta_roundtrip(ids).tolist() == ids.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40),
                 min_size=1, max_size=50, unique=True),
        min_size=1, max_size=30,
    )
)
def test_segment_codec_roundtrip(segments):
    import pyarrow as pa

    segs = [np.array(sorted(s), dtype=np.int64) for s in segments]
    values = np.concatenate(segs)
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    gaps = segment_delta_gaps(values, starts)
    buf, sizes = vbyte_encode_arrays(gaps)
    # whole-stream restore
    restored = segment_delta_restore(
        vbyte_decode(buf.tobytes(), count=len(values)), starts, lens
    )
    assert restored.tolist() == values.tolist()
    # per-segment slices decode independently
    pieces = segment_binary(buf, sizes, starts).to_pylist()
    for piece, seg in zip(pieces, segs):
        got = np.cumsum(vbyte_decode(piece, count=len(seg)).astype(np.int64))
        assert got.tolist() == seg.tolist()
    # and in one batched decode, as the kernels read them
    post = decode_blocks(pa.array(lens), segment_binary(buf, sizes, starts))
    assert post.ids.tolist() == values.tolist()
    assert post.row_off.tolist() == np.r_[starts, len(values)].tolist()


def test_block_streams_roundtrip():
    """One term's postings cut into 128-posting blocks round-trip through
    decode_blocks: ids, tfs, per-block posting counts and each block's
    first doc id."""
    n = 300
    rng = np.random.default_rng(0)
    ids = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    n_docs, docs, tf_col = _encode_blocks(ids, tfs, 128)
    assert n_docs.to_pylist() == [128, 128, 44]
    post = decode_blocks(n_docs, docs, tfs=tf_col)
    assert post.ids.tolist() == ids.tolist()
    assert post.tfs.tolist() == tfs.tolist()
    assert post.pos is None
    assert post.row_off.tolist() == [0, 128, 256, 300]
    assert post.ids[post.row_off[:-1]].tolist() == ids[[0, 128, 256]].tolist()


def test_segment_binary_slices_one_stream():
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
    sizes = np.array([1 << 30, 1 << 30], dtype=np.int64)  # 2^31 bytes
    with pytest.raises(ValueError, match="int32"):
        segment_binary(np.zeros(1, dtype=np.uint8), sizes, np.array([0, 1]))


def _random_block_rows(rng, gseq, ids_pool, block_size=16):
    """One lineage group's posting blocks of a single term: per-block
    doc-id and tf streams (_encode_blocks) plus per-posting position
    streams, with the postings they encode."""
    ids = np.sort(rng.choice(ids_pool, size=len(ids_pool) // 2,
                             replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=len(ids)).astype(np.int64)
    pos = [np.sort(rng.choice(400, size=int(t), replace=False))
           for t in tfs]
    n_docs, docs, tf_col = _encode_blocks(ids, tfs, block_size)
    rows = []
    for bi, (n, d, t) in enumerate(zip(n_docs.to_pylist(), docs.to_pylist(),
                                        tf_col.to_pylist())):
        lo = bi * block_size
        rows.append({
            "n_docs": n, "docs": d, "tfs": t,
            "pos": vbyte_encode(np.concatenate([
                segment_delta_gaps(p, np.array([0])) for p in pos[lo:lo + n]
            ])),
            "gseq": gseq,
        })
    return rows


def _reference_decode(rows, tomb=None, qual=None):
    """Per-block reference: one vbyte_decode + cumsum per block for ids,
    one vbyte_decode for tfs, per-posting cumsum for positions; masks
    per posting."""
    ids_o, tfs_o, pos_o, row_off = [], [], [], [0]
    for r in rows:
        ids = np.cumsum(vbyte_decode(r["docs"], r["n_docs"]).astype(np.int64))
        tfs = vbyte_decode(r["tfs"], r["n_docs"]).astype(np.int64)
        flat = vbyte_decode(r["pos"], int(tfs.sum())).astype(np.int64)
        cuts = np.cumsum(tfs)[:-1]
        pos = [np.cumsum(g) for g in np.split(flat, cuts)]
        for i in range(r["n_docs"]):
            d = int(ids[i])
            if tomb is not None and tomb.get(d, -1) >= r["gseq"]:
                continue
            if qual is not None and d not in qual:
                continue
            ids_o.append(d)
            tfs_o.append(int(tfs[i]))
            pos_o.extend(pos[i].tolist())
        row_off.append(len(ids_o))
    return ids_o, tfs_o, pos_o, row_off


def _to_table(rows):
    import pyarrow as pa

    return pa.table({
        "n_docs": pa.array([r["n_docs"] for r in rows], pa.int32()),
        "docs": pa.array([r["docs"] for r in rows], pa.binary()),
        "tfs": pa.array([r["tfs"] for r in rows], pa.binary()),
        "pos": pa.array([r["pos"] for r in rows], pa.binary()),
        "gseq": pa.array([r["gseq"] for r in rows], pa.int64()),
    })


def _decode(tbl, **kw):
    return decode_blocks(
        tbl.column("n_docs"), tbl.column("docs"), tfs=tbl.column("tfs"),
        pos=tbl.column("pos"), gseq=tbl.column("gseq"), **kw,
    )


def _assert_matches(got, want):
    ids, tfs, pos, row_off = want
    assert got.ids.dtype == np.int64 and got.ids.tolist() == ids
    assert got.tfs.tolist() == tfs
    assert got.pos.tolist() == pos
    assert got.row_off.tolist() == row_off


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_decode_blocks_matches_per_block_reference(seed):
    """The batched decoder against the per-block reference on two
    lineage groups whose doc ranges interleave (and share re-ingested
    ids): unmasked, a tombstone set that kills only the older group's
    copies, and a qualifying-id mask with positions."""
    rng = np.random.default_rng(seed)
    pool = np.arange(0, 3000, 3, dtype=np.int64)
    rows = (_random_block_rows(rng, 0, pool)
            + _random_block_rows(rng, 1, pool))
    tbl = _to_table(rows)
    _assert_matches(_decode(tbl), _reference_decode(rows))

    # delete seq 0: dead in group 0, a later re-ingest (group 1) lives
    victims = np.sort(rng.choice(pool, size=300, replace=False))
    seqs = np.zeros(len(victims), dtype=np.int64)
    got = _decode(tbl, tomb=(victims, seqs))
    want = _reference_decode(rows, tomb=dict.fromkeys(victims.tolist(), 0))
    _assert_matches(got, want)
    assert len(want[0]) < len(_reference_decode(rows)[0])
    assert set(victims.tolist()) & set(want[0]), "group 1 copies survive"

    qual = np.sort(rng.choice(pool, size=400, replace=False))
    _assert_matches(_decode(tbl, qual=qual),
                    _reference_decode(rows, qual=set(qual.tolist())))
    _assert_matches(
        _decode(tbl, tomb=(victims, seqs), qual=qual),
        _reference_decode(rows, tomb=dict.fromkeys(victims.tolist(), 0),
                          qual=set(qual.tolist())),
    )


def test_decode_blocks_sliced_multi_chunk_input():
    """Arrow columns with several chunks and a non-zero slice offset
    decode exactly like the rows they cover."""
    import pyarrow as pa

    rng = np.random.default_rng(7)
    pool = np.arange(0, 2000, 2, dtype=np.int64)
    rows = (_random_block_rows(rng, 0, pool)
            + _random_block_rows(rng, 1, pool))
    tbl = pa.concat_tables([_to_table(rows[:5]), _to_table(rows[5:])])
    assert tbl.column("docs").num_chunks == 2
    sliced = tbl.slice(3, len(rows) - 5)
    assert sliced.column("docs").chunk(0).offset == 3
    _assert_matches(_decode(sliced), _reference_decode(rows[3:-2]))
    one_chunk = _to_table(rows).slice(2, 6)
    assert one_chunk.column("docs").chunk(0).offset == 2
    _assert_matches(_decode(one_chunk), _reference_decode(rows[2:8]))
    qual = np.sort(rng.choice(pool, size=300, replace=False))
    _assert_matches(_decode(sliced, qual=qual),
                    _reference_decode(rows[3:-2], qual=set(qual.tolist())))
