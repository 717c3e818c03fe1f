"""Posting-list compression kernels: delta-gap + variable-byte, block layout.

The analog of the reference's compressed index payload (reference:
core/index_builder/faiss/ivf_pq_build_cagra_config.py:14-56 configures PQ
compression of the stored index; vectors_dataset.py:113-128 packs values into
opaque binary buffers reinterpreted zero-copy). Here the payload is posting
lists: sorted doc_ids stored as varbyte(delta-gaps) and tfs stored as varbyte,
split into fixed-size blocks, each restarting the delta at its first doc
id so it decodes on its own.

All kernels are numpy-vectorized over whole arrays (no per-value Python in
the hot loop beyond a <=10-iteration byte-position loop), matching the
"no per-row Python" requirement. They run inside Arrow batches on executors.

Varbyte convention: little-endian 7-bit groups, high bit SET means
"more bytes follow" (so the final byte of each value has high bit clear).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128  # docs per posting block (classic BMW block size)


def in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership of `values` in an ALREADY-SORTED int64 array via a
    searchsorted probe. np.isin re-sorts its second argument on EVERY call
    (measured 6.2 s of a 7.5 s WAND kernel at 5.5M-turn shards) — shared
    here by the query kernels and the compaction purge so the clip-at-end
    edge case lives in exactly one place."""
    if not len(sorted_arr):
        return np.zeros(len(values), dtype=bool)
    pos = np.searchsorted(sorted_arr, values)
    pos_c = np.minimum(pos, len(sorted_arr) - 1)
    return (pos < len(sorted_arr)) & (sorted_arr[pos_c] == values)


def dead_mask(ids: np.ndarray, gseqs,
              tomb_ids: np.ndarray, tomb_seqs: np.ndarray) -> np.ndarray:
    """Per-GROUP tombstone deadness (the Lucene per-segment delete model):
    posting (id, gseq) is dead iff a tombstone (id, s) exists with
    s >= gseq — a delete applies only to lineage groups that existed when
    it was issued, so a doc re-ingested AFTER its delete (new group, higher
    seq) stays live while the old copy stays masked. ``gseqs`` may be a
    scalar (whole-block group seq) or a per-posting array; ``tomb_ids``
    sorted ascending with ``tomb_seqs`` the per-id MAX delete seq."""
    if not len(tomb_ids):
        return np.zeros(len(ids), dtype=bool)
    pos = np.searchsorted(tomb_ids, ids)
    pos_c = np.minimum(pos, len(tomb_ids) - 1)
    hit = (pos < len(tomb_ids)) & (tomb_ids[pos_c] == ids)
    return hit & (tomb_seqs[pos_c] >= gseqs)


# byte-count thresholds: value v needs searchsorted(_VB_BOUNDS, v,
# 'right') + 1 bytes (9 bounds -> counts 1..10 cover the full uint64 range)
_VB_BOUNDS = np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64))


def vbyte_encode_arrays(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode to one varbyte stream (a uint8 ndarray — Arrow-native
    callers wrap it zero-copy in a BinaryArray data buffer, r07) and
    return the per-value byte counts with it (for segment slicing: one
    encode call can serve millions of tiny runs — per-run encode calls
    would dominate at SPIMI scale).

    Byte counts come from ONE searchsorted against the 2^(7k) thresholds
    (the former shift-loop made ~bit_length/7 full passes with copies);
    the scatter writes every value's first byte unmasked, then loops only
    over the (typically few-percent) multi-byte survivors — posting gaps
    and tfs are overwhelmingly single-byte, so the old all-values masked
    scatter paid 2-10 full-array passes for a 1-2 pass job (r07; 2.7x on
    the build's measured stream mix, bit-identical)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = np.searchsorted(_VB_BOUNDS, v, side="right") + 1
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    starts = ends - nbytes
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        (nbytes > 1).astype(np.uint8) << 7
    )
    multi = nbytes > 1
    if multi.any():
        rem = v[multi] >> np.uint64(7)
        nb = nbytes[multi]
        st = starts[multi]
        p = 1
        while len(nb):
            out[st + p] = (rem & np.uint64(0x7F)).astype(np.uint8) | (
                ((p + 1) < nb).astype(np.uint8) << 7
            )
            p += 1
            keep = nb > p
            if not keep.any():
                break
            rem = rem[keep] >> np.uint64(7)
            nb = nb[keep]
            st = st[keep]
    return out, nbytes


def segment_delta_gaps(values: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Per-segment delta-gap: each segment's first value stays absolute,
    later values become gaps. Segments must be individually increasing.

    Doc ids may be NEGATIVE (the hash64 scheme spans the full signed-int64
    range): absolute first values are stored two's-complement-reinterpreted
    as uint64; within-segment gaps are strictly positive by construction."""
    v = np.asarray(values, dtype=np.int64)
    gaps = v.copy()
    gaps[1:] -= v[:-1]
    in_seg = np.ones(len(v), dtype=bool)
    in_seg[seg_starts] = False
    if (gaps[in_seg] <= 0).any():
        raise ValueError("non-increasing values within a segment")
    u = gaps.astype(np.uint64)  # wraps: two's complement for negatives
    u[seg_starts] = v[seg_starts].astype(np.uint64)
    return u


def segment_delta_restore(gaps: np.ndarray, seg_starts: np.ndarray,
                          seg_lens: np.ndarray) -> np.ndarray:
    """Inverse of segment_delta_gaps (vectorized: global cumsum minus the
    cumsum at each segment's start). All arithmetic is intentionally
    mod-2^64 (int64 wrap): (base + x) - base == x exactly under wraparound,
    and the true values fit int64, so negatives restore correctly."""
    with np.errstate(over="ignore"):
        c = np.cumsum(gaps.astype(np.int64))
        base = np.zeros(len(seg_starts), dtype=np.int64)
        base[1:] = c[seg_starts[1:] - 1]
        return c - np.repeat(base, seg_lens)


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64-able non-negative int array to varbyte bytes (the
    benchmark's codec ceiling checks its round trip with it)."""
    return vbyte_encode_arrays(values)[0].tobytes()


def vbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array.

    Per-byte-position gather loop (<= 10 iterations, one vectorized
    gather+or+shift each) rather than a scatter-add over every byte:
    ufunc.at is unbuffered and ~10x slower than the equivalent gathers,
    and most streams here are 1-2 bytes/value, so the loop runs 1-2
    rounds over progressively tiny masks (r07: decode showed up in every
    query kernel and the merge stage)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    n_vals = int(is_end.sum())
    if count is not None and count != n_vals:
        raise ValueError(f"varbyte stream has {n_vals} values, expected {count}")
    if n_vals == b.size:  # every value single-byte: the dominant layout
        return b.astype(np.uint64)
    end_pos = np.flatnonzero(is_end)
    starts = np.empty(n_vals, dtype=np.int64)
    starts[0] = 0
    starts[1:] = end_pos[:-1] + 1
    nbytes = end_pos - starts + 1
    vals = (b[starts] & np.uint8(0x7F)).astype(np.uint64)
    max_b = int(nbytes.max())
    for p in range(1, max_b):
        m = nbytes > p
        vals[m] |= (b[starts[m] + p] & np.uint8(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * p)
    return vals


def _bin_stream(col) -> np.ndarray:
    """The concatenated values of an Arrow binary column as one uint8
    ndarray view: the column's data buffer holds every value's bytes
    contiguously and the offsets bound them. Zero-copy for a single
    chunk, sliced arrays (non-zero offset) included; several chunks are
    combined first (one copy)."""
    if hasattr(col, "num_chunks"):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    bufs = col.buffers()
    if len(col) == 0 or bufs[2] is None:
        return np.zeros(0, dtype=np.uint8)
    offs = np.frombuffer(bufs[1], dtype=np.int32)[
        col.offset:col.offset + len(col) + 1
    ]
    return np.frombuffer(bufs[2], dtype=np.uint8)[offs[0]:offs[-1]]


def _int_col(col) -> np.ndarray:
    return np.asarray(col.to_numpy(), dtype=np.int64)


class Postings(NamedTuple):
    """Decoded postings of a run of blocks, masks applied. Input row i's
    surviving postings are ``[row_off[i], row_off[i + 1])`` of ``ids``
    and ``tfs``; ``pos`` holds each surviving posting's tf positions, in
    posting order."""
    ids: np.ndarray
    tfs: np.ndarray | None
    pos: np.ndarray | None
    row_off: np.ndarray


def decode_blocks(n_docs, docs, tfs=None, pos=None, gseq=None,
                  tomb: "tuple | None" = None,
                  qual: "np.ndarray | None" = None) -> Postings:
    """Batched decode of posting blocks (or build runs) given as Arrow
    columns: ``n_docs`` postings per row, the binary streams the caller
    read (``docs`` delta-gapped with a per-row restart, optional ``tfs``,
    and ``pos`` with a per-posting restart, which needs ``tfs``), and
    the per-row lineage ``gseq``.

    Varbyte streams are self-delimiting, so each stream decodes in one
    numpy pass straight from its Arrow data buffer instead of one call
    per ~128-value block (per-call overhead dominated the kernels) or a
    bytes join per stream.

    ``tomb`` ((sorted ids, per-id max delete seq)) drops postings dead
    in their row's lineage group (dead_mask; needs ``gseq``); ``qual``
    (sorted ids) keeps only qualifying postings. Positions follow their
    posting. All ints come back int64."""
    n_arr = _int_col(n_docs)
    total = int(n_arr.sum())
    starts = np.cumsum(n_arr) - n_arr
    ids = segment_delta_restore(
        vbyte_decode(_bin_stream(docs), total), starts, n_arr
    )
    tf = p = None
    if tfs is not None:
        tf = vbyte_decode(_bin_stream(tfs), total).astype(np.int64)
    if pos is not None:
        p = segment_delta_restore(
            vbyte_decode(_bin_stream(pos), int(tf.sum())),
            np.cumsum(tf) - tf, tf,
        )
    row_off = np.r_[starts, total]
    keep = None
    if tomb is not None and len(tomb[0]):
        keep = ~dead_mask(ids, np.repeat(_int_col(gseq), n_arr),
                          tomb[0], tomb[1])
    if qual is not None:
        mq = in_sorted(ids, qual)
        keep = mq if keep is None else keep & mq
    if keep is not None:
        row_off = np.r_[0, np.cumsum(keep)][row_off]
        if p is not None:
            p = p[np.repeat(keep, tf)]
        ids = ids[keep]
        tf = tf[keep] if tf is not None else None
    return Postings(ids, tf, p, row_off)
