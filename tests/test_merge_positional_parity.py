"""The vectorized positional merge (_flush_vectorized with pos_all, r07)
must be BYTE-identical per block to the straightforward per-group loop it
replaced — blocks feed the phrase/BM25F kernels and the oracle gate, so a
single byte of drift changes query results.

The reference implementation here is the former _merge_group loop,
verbatim in semantics: per (term, shard) group, stable-argsort postings
by doc, reorder each posting's ragged position slice with it, then emit
block_size-sized blocks with per-block delta+vbyte encoding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sparkbm25.build import BuildParams, _make_merge_gen
from sparkbm25.codecs import segment_delta_gaps, vbyte_encode


def _ref_group_blocks(term, shard_id, docs, tfs, pos_flat, bs):
    """The former per-group merge loop (reference semantics)."""
    order = np.argsort(docs, kind="stable")
    counts = tfs.astype(np.int64)
    starts = np.cumsum(counts) - counts
    c_p = counts[order]
    new_starts = np.cumsum(c_p) - c_p
    within = np.arange(int(c_p.sum()), dtype=np.int64) - np.repeat(
        new_starts, c_p
    )
    pos_flat = pos_flat[np.repeat(starts[order], c_p) + within]
    pos_ends = np.cumsum(c_p)
    docs, tfs = docs[order], tfs[order]
    n = docs.size
    rows = []
    for bi, lo in enumerate(range(0, n, bs)):
        hi = min(lo + bs, n)
        t_lo = int(pos_ends[lo - 1]) if lo else 0
        t_hi = int(pos_ends[hi - 1])
        blk_counts = c_p[lo:hi]
        blk_starts = np.cumsum(blk_counts) - blk_counts
        pos_vbyte = vbyte_encode(
            segment_delta_gaps(pos_flat[t_lo:t_hi], blk_starts)
        )
        rows.append((
            term, int(shard_id), bi, int(hi - lo),
            int(docs[lo]), int(tfs[lo:hi].sum()),
            vbyte_encode(segment_delta_gaps(
                docs[lo:hi], np.array([0], dtype=np.int64))),
            vbyte_encode(tfs[lo:hi].astype(np.uint64)),
            pos_vbyte,
        ))
    return rows


def _make_runs(rng, n_groups=7, max_runs=4, max_docs=37):
    """Synthetic RUN_SCHEMA rows (sorted by (shard, term) like the real
    exchange), with a positions stream per posting."""
    rows = []
    truth = {}  # (term, shard) -> (docs, tfs, pos_flat)
    for g in range(n_groups):
        term = f"t{g % 4:02d}_{g}"
        shard = g % 3
        all_docs = rng.choice(10_000, size=rng.integers(3, max_docs),
                              replace=False)
        all_docs.sort()
        tfs = rng.integers(1, 6, len(all_docs))
        pos = np.concatenate([
            np.sort(rng.choice(1000, size=t, replace=False)) for t in tfs
        ])
        truth[(term, shard)] = (all_docs.astype(np.int64),
                                tfs.astype(np.int64),
                                pos.astype(np.int64))
        # split into 1..max_runs doc-disjoint sorted runs
        n_runs = int(rng.integers(1, max_runs + 1))
        assign = rng.integers(0, n_runs, len(all_docs))
        tok_starts = np.cumsum(tfs) - tfs
        for r in range(n_runs):
            sel = assign == r
            if not sel.any():
                continue
            d, t = all_docs[sel], tfs[sel]
            p = np.concatenate([
                pos[tok_starts[i]:tok_starts[i] + tfs[i]]
                for i in np.flatnonzero(sel)
            ])
            seg0 = np.array([0], dtype=np.int64)
            rows.append({
                "term": term, "shard_id": shard, "n_docs": len(d),
                "docs_vb": vbyte_encode(
                    segment_delta_gaps(d.astype(np.int64), seg0)),
                "tfs_vb": vbyte_encode(t.astype(np.uint64)),
                "pos_vb": vbyte_encode(segment_delta_gaps(
                    p.astype(np.int64),
                    (np.cumsum(t) - t).astype(np.int64))),
                "gseq": 0,
            })
    rows.sort(key=lambda r: (r["shard_id"], r["term"]))
    return pd.DataFrame(rows), truth


@pytest.mark.parametrize("seed", [0, 7])
def test_vectorized_positional_merge_matches_group_loop(seed):
    rng = np.random.default_rng(seed)
    runs, truth = _make_runs(rng)
    params = BuildParams(store_positions=True, block_size=8,
                         lineage_groups=1)
    gen = _make_merge_gen(params)
    import pyarrow as pa

    rb = pa.RecordBatch.from_pandas(runs.drop(columns=["gseq"]),
                                    preserve_index=False)
    out = pd.concat([o.to_pandas() for o in gen(iter([rb]))],
                    ignore_index=True)
    ref_rows = []
    for (term, shard), (d, t, p) in truth.items():
        ref_rows.extend(_ref_group_blocks(
            term, shard, d, t, p, params.block_size))
    ref = pd.DataFrame(ref_rows, columns=list(out.columns))
    key = ["term", "shard_id", "block_id"]
    out = out.sort_values(key).reset_index(drop=True)
    ref = ref.sort_values(key).reset_index(drop=True)
    assert len(out) == len(ref)
    for col in out.columns:
        a, b_ = out[col].tolist(), ref[col].tolist()
        assert a == b_, f"column {col} differs"


def test_vectorized_positional_merge_with_tombstones():
    """Dead postings' ragged position slices are purged exactly (the
    alive mask repeats by PRE-filter tf)."""
    rng = np.random.default_rng(3)
    runs, truth = _make_runs(rng, n_groups=5)
    # tombstone ~1/3 of all doc ids at seq >= gseq (gseq=0)
    all_ids = sorted({int(d) for (_t, _s), (ds, *_r) in truth.items()
                      for d in ds})
    victims = np.array(all_ids[::3], dtype=np.int64)
    seqs = np.ones(len(victims), dtype=np.int64)
    params = BuildParams(store_positions=True, block_size=8,
                         lineage_groups=1)
    gen = _make_merge_gen(params, tombstones=(victims, seqs))
    import pyarrow as pa

    rb = pa.RecordBatch.from_pandas(runs, preserve_index=False)
    out = pd.concat([o.to_pandas() for o in gen(iter([rb]))],
                    ignore_index=True)
    ref_rows = []
    vset = set(victims.tolist())
    for (term, shard), (d, t, p) in truth.items():
        keep = np.array([dd not in vset for dd in d])
        if not keep.any():
            continue
        tok_starts = np.cumsum(t) - t
        p_keep = np.concatenate([
            p[tok_starts[i]:tok_starts[i] + t[i]]
            for i in np.flatnonzero(keep)
        ])
        ref_rows.extend(_ref_group_blocks(
            term, shard, d[keep], t[keep], p_keep, params.block_size))
    ref = pd.DataFrame(ref_rows, columns=list(out.columns))
    key = ["term", "shard_id", "block_id"]
    out = out.sort_values(key).reset_index(drop=True)
    ref = ref.sort_values(key).reset_index(drop=True)
    assert len(out) == len(ref)
    for col in out.columns:
        assert out[col].tolist() == ref[col].tolist(), col
