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


def _random_block_rows(rng, gseq, ids_pool, block_size=16):
    """One lineage group's posting blocks of a single term: per-block
    streams from pack_blocks (docs, tfs) plus dls and per-posting
    position streams, with the postings they encode."""
    ids = np.sort(rng.choice(ids_pool, size=len(ids_pool) // 2,
                             replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=len(ids)).astype(np.int64)
    dls = rng.integers(5, 400, size=len(ids)).astype(np.int64)
    pos = [np.sort(rng.choice(400, size=int(t), replace=False))
           for t in tfs]
    rows = []
    for blk in pack_blocks(ids, tfs, np.ones(len(ids)), block_size):
        lo = blk["block_id"] * block_size
        hi = lo + blk["n_docs"]
        rows.append({
            "n_docs": blk["n_docs"], "docs": blk["docs_vbyte"],
            "tfs": blk["tfs_vbyte"], "dls": vbyte_encode(dls[lo:hi]),
            "pos": vbyte_encode(np.concatenate(
                [delta_encode(p) for p in pos[lo:hi]]
            )),
            "gseq": gseq,
        })
    return rows


def _reference_decode(rows, tomb=None, qual=None):
    """Per-block reference: unpack_block for ids/tfs, one vbyte_decode
    for dls, per-posting cumsum for positions; masks per posting."""
    ids_o, tfs_o, dls_o, pos_o, row_off = [], [], [], [], [0]
    for r in rows:
        ids, tfs = unpack_block(r["docs"], r["tfs"], r["n_docs"])
        dls = vbyte_decode(r["dls"], r["n_docs"]).astype(np.int64)
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
            dls_o.append(int(dls[i]))
            pos_o.extend(pos[i].tolist())
        row_off.append(len(ids_o))
    return ids_o, tfs_o, dls_o, pos_o, row_off


def _to_table(rows):
    import pyarrow as pa

    return pa.table({
        "n_docs": pa.array([r["n_docs"] for r in rows], pa.int32()),
        "docs": pa.array([r["docs"] for r in rows], pa.binary()),
        "tfs": pa.array([r["tfs"] for r in rows], pa.binary()),
        "dls": pa.array([r["dls"] for r in rows], pa.binary()),
        "pos": pa.array([r["pos"] for r in rows], pa.binary()),
        "gseq": pa.array([r["gseq"] for r in rows], pa.int64()),
    })


def _decode(tbl, **kw):
    from sparkbm25.codecs import decode_blocks

    return decode_blocks(
        tbl.column("n_docs"), tbl.column("docs"), tfs=tbl.column("tfs"),
        dls=tbl.column("dls"), pos=tbl.column("pos"),
        gseq=tbl.column("gseq"), **kw,
    )


def _assert_matches(got, want):
    ids, tfs, dls, pos, row_off = want
    assert got.ids.dtype == np.int64 and got.ids.tolist() == ids
    assert got.tfs.tolist() == tfs
    assert got.dls.tolist() == dls
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
