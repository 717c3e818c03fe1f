"""Top-k BM25 over the prebuilt compressed index — EXACT.

The reference's search entry point loads a serialized index and answers
top-k per query (benchmarking/search/search_indices.py:13-55). Ours is a
per-shard index probe: posting layout 3 clusters each term bucket's
files and the doc_stats rows by doc-range shard (Index.shard_file_map,
Index.norm_file_map), so a kernel reads exactly its shard's blocks and
its docs' lengths with pyarrow, scores every query of the batch in
numpy and emits its local top-k. A doc lives in one shard, so
per-shard scoring is exact, and results are rank-identical to the
pure-Python OracleIndex (the reference only promises recall; the north
rule demands identity: every matching posting is scored).

Two plans serve every query shape:

direct       one ``spark.range`` work item per shard feeds the kernel
             (mapInArrow). index_search collects the per-shard top-k
             (one job, one task per shard, no exchange) and merges it in
             the driver (_merge_tops); only tops past the driver row
             budget keep the lazy topk_window exchange. A call whose
             posting volume is below the route crossover
             (_serve_in_driver) runs the same kernel in the driver
             (_local_search), shard after shard in the calling thread,
             with no Spark job at all. A merged result is a LocalFrame
             (localrel): its collect() reads the Arrow top-k in Python,
             and the JVM frame is built only when a JVM operator asks
             for it.
side-direct  when the kernel needs a side frame — `where=` qualifying
             ids or collapse values — only that frame is grouped by
             shard, and each group reads its shard's blocks in-task
             (_direct_side_fn). Posting blocks never cross an exchange.

Deletes take no plan of their own: every kernel (search, phrase and the
aggregations) gets the index's tombstone pair (Index.tombstones_pair,
read once per handle with pyarrow) in its closure and masks dead
postings at decode, so a tombstoned search with no filter runs the
direct plan like any other.

Every route reads a shard's blocks with one reader (_read_shard_blocks:
pq.ParquetFile per file, row groups pruned by their term statistics, a
pyarrow Table out; the driver route reads through its handle's
row-group cache, _BlockCache) and decodes them with one function
(codecs.decode_blocks). Doc lengths are not stored per posting: the
shard's norms ((doc id, doc length) arrays, _read_shard_norms; the
driver route caches them per shard on the Index handle, a Spark task
reads its own shard's) are gathered for the postings that survive the
masks (_gather_norms). One kernel serves every query shape: the
densified exact fold (_sharded_topk_fn) over _decode_tfn, which emits
its per-shard top-k as an Arrow record batch; only the side-direct
plan's applyInPandas converts it to pandas. No block is skipped, so a
search reads only term, n_docs and the doc-id and tf streams (plus
positions for fields=).
"""

from __future__ import annotations

import os
import threading
from bisect import bisect_left
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .analysis import parse_prefix_query, tokenize_py
from .bm25 import idf as idf_fn
from .codecs import decode_blocks, in_sorted as _in_sorted
from .jobs import Index
from .localrel import LocalFrame, local_df
from .query import topk_window


def _query_weights(ix: Index, queries: list[tuple[int, str]]):
    """Driver-side prep over the (tiny) query set, PER QUERY-TERM
    OCCURRENCE: the oracle accumulates w·tf_norm once per token occurrence
    in query order (oracle.py:60-77), and bit-exact tie agreement requires
    the engine to add the same values in the same order — so a duplicated
    query term yields two entries rather than a qtf-scaled weight.

    Returns {query_id: [(term, idf), ...]} in query-token order (the
    kernels' accumulation schedule); a query with no indexed term is
    absent."""
    toks: dict[int, list[str]] = {}
    for qid, qtext in queries:
        toks.setdefault(qid, []).extend(tokenize_py(qtext))
    terms = sorted({t for ts in toks.values() for t in ts})
    if not terms:
        return {}
    stats = ix.term_stats_lookup(terms)
    occ: dict[int, list[tuple[str, float]]] = {}
    for qid, ts in toks.items():
        present = [
            (t, idf_fn(stats[t], ix.n_docs))
            for t in ts
            if t in stats  # absent term contributes nothing (oracle skips)
        ]
        if present:
            occ[qid] = present
    return occ


def _sorted_blocks(blocks: pa.Table, keys=("term",)) -> pa.Table:
    """``blocks`` stably sorted by ``keys`` (ascending)."""
    return blocks.take(
        pc.sort_indices(blocks, sort_keys=[(c, "ascending") for c in keys])
    )


def _term_slices(blocks: pa.Table, row_off: np.ndarray):
    """[(term, lo, hi)]: each term's slice of the decoded posting arrays
    (codecs.decode_blocks) of a term-sorted block table; terms left with
    no posting are absent."""
    terms = blocks.column("term").to_numpy()
    if not len(terms):
        return []
    first = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    off = row_off[np.r_[first, len(terms)]]
    return [
        (terms[f], int(off[i]), int(off[i + 1]))
        for i, f in enumerate(first) if off[i + 1] > off[i]
    ]


def _gseq_col(blocks: pa.Table):
    return blocks.column("gseq") if "gseq" in blocks.column_names else None


def _read_shard_norms(entry: list) -> tuple[np.ndarray, np.ndarray]:
    """One shard's norms from its doc_stats files ``entry`` ([(gseq,
    path), ...], Index.norm_file_map): (doc ids sorted ascending as
    int64, their doc lengths as int32). An id present in several lineage
    groups (re-ingested after a delete) keeps the row of its newest
    group, the only copy whose postings survive the tombstone mask.
    Read like _read_shard_blocks: pq.ParquetFile per file, in the
    calling thread."""
    ids, lens, seqs = [np.empty(0, np.int64)], [np.empty(0, np.int32)], [
        np.empty(0, np.int64)]
    for g, path in entry:
        with pq.ParquetFile(path) as f:
            t = f.read(columns=["doc_id", "doc_len"], use_threads=False)
        ids.append(t.column("doc_id").to_numpy().astype(np.int64))
        lens.append(t.column("doc_len").to_numpy().astype(np.int32))
        seqs.append(np.full(t.num_rows, int(g), np.int64))
    ids, lens = np.concatenate(ids), np.concatenate(lens)
    order = np.lexsort((np.concatenate(seqs), ids))
    ids, lens = ids[order], lens[order]
    last = np.ones(len(ids), dtype=bool)  # an id's newest group sorts last
    last[:-1] = ids[1:] != ids[:-1]
    return ids[last], lens[last]


def _gather_norms(norms: tuple, ids: np.ndarray) -> np.ndarray:
    """Doc lengths (float64) of the posting doc ids ``ids`` from a
    shard's norms; raises when a posting's doc has no doc_stats row
    (a corrupt or partially copied index), never scores it with a
    made-up length."""
    n_ids, n_lens = norms
    pos = np.searchsorted(n_ids, ids)
    if len(ids) and (
        not len(n_ids)
        or not np.array_equal(n_ids[np.minimum(pos, len(n_ids) - 1)], ids)
    ):
        bad = ids[~_in_sorted(ids, n_ids)]
        raise ValueError(
            f"{len(bad)} postings have no doc_stats row (first doc_id "
            f"{int(bad[0])}); the index's doc_stats and postings disagree"
        )
    return n_lens[pos].astype(np.float64)


def _decode_tfn(blocks: pa.Table, norms: tuple, k1: float, b: float,
                avgdl: float,
                tomb: "tuple | None" = None,
                qual: "np.ndarray | None" = None,
                fieldw: tuple | None = None,
                ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Decode a block table into {term: (doc_ids, tf_norm)} with the
    masks applied; terms left with no posting are absent. The one
    decode behind the dense kernel's scoring (one batched
    codecs.decode_blocks over the term-sorted table). Each surviving
    posting's doc length is gathered from the shard's ``norms``
    (_read_shard_norms) after the masks.

    ``fieldw`` ((split, w_title, w_body), index_bm25f_search) scores
    positional-split BM25F: per-posting title tf derives from the
    POSITIONS stream (tf1 = tokens at position < split), so split AND
    weights are query-time parameters; ``avgdl`` is then ALREADY the
    weighted avgdl~. With integer-valued weights every weighted sum is
    exact in f64, bit-equal to the corpus-scan path (bm25f module doc).

    ``tomb`` (per-group tombstones via the table's gseq column) and
    ``qual`` (sorted `where=` qualifying ids: the filter narrows
    candidates, idf/avgdl stay global) drop dead and non-qualifying
    postings."""
    blocks = _sorted_blocks(blocks)
    post = decode_blocks(
        blocks.column("n_docs"), blocks.column("docs_vbyte"),
        tfs=blocks.column("tfs_vbyte"),
        pos=blocks.column("pos_vbyte") if fieldw is not None else None,
        gseq=_gseq_col(blocks), tomb=tomb, qual=qual,
    )
    if not len(post.ids):
        return {}
    dls = _gather_norms(norms, post.ids)
    if fieldw is not None:
        split, w_t, w_b = fieldw
        tok_starts = np.cumsum(post.tfs) - post.tfs
        tf1 = np.add.reduceat((post.pos < split).astype(np.int64), tok_starts)
        tfs = w_t * tf1 + w_b * (post.tfs - tf1)
        dls = (
            w_t * np.minimum(dls, float(split))
            + w_b * np.maximum(dls - split, 0.0)
        )
    else:
        tfs = post.tfs.astype(np.float64)
    tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    return {
        t: (post.ids[lo:hi], tfn[lo:hi])
        for t, lo, hi in _term_slices(blocks, post.row_off)
    }


def _sharded_topk_fn(q_terms: dict[int, list[tuple[str, float]]],
                     k1: float, b: float, avgdl: float, k: int,
                     side: bool = False,
                     tombstones: "tuple | None" = None,
                     and_need: dict[int, int] | None = None,
                     exclude: dict[int, list[str]] | None = None,
                     fieldw: tuple | None = None,
                     after: dict[int, tuple[float, int]] | None = None,
                     collapse: bool = False):
    """Per-shard exact scoring kernel: decode each query term's blocks ONCE,
    densify each term into one contribution column over the group's doc
    universe, and score every query as a few whole-vector adds.

    The kernel is DENSIFIED ACROSS QUERIES: a term's per-doc contribution
    ``idf(t) * tf_norm`` is query-INDEPENDENT (the weight is the term's
    idf alone), so each matched term becomes one dense float64 column over
    the group's doc universe, built once; a query's score vector is then
    the element-wise sum of its occurrences' columns in qpos order —
    sequential whole-vector adds, so every doc's addend order is IDENTICAL
    to the per-query bincount this replaces (bit-exact scores, exact ties
    included, mirroring OracleIndex.search's accumulation oracle.py:60-77;
    a doc absent from a term contributes +0.0, which never perturbs a
    positive float64 sum). This removes the per-(query,group) sort+bincount
    whose fixed cost dominated batch latency and capped core-scaling
    (VERDICT r03 #2): per-query work drops to O(group-docs) vector adds +
    one top-k extraction. Memory: one column per distinct matched term over
    <= group-doc-count doubles — bounded by the doc-range grouping.

    Masking inputs (both optional, composable):
    - ``tombstones`` — the index's (sorted ids, per-id max del_seq)
      pair, shipped in the closure; per-group deadness via
      codecs.dead_mask with the block's ``gseq`` column.
    - ``side`` — the kernel takes ``(blocks, side)`` frames, the side
      being this shard's `where=` qualifying ids (doc_id[, value]);
      postings of other docs are dropped (_parse_side).

    ``and_need`` activates COVERAGE semantics for the listed queries:
    {query_id: required distinct matched-term count}. Because a doc's
    postings for every term live in its one doc-range group, the
    coverage test is group-local and exact: count per-doc distinct
    matched query terms, keep docs where the count is >= the
    requirement. mode='and' sets the requirement to the query's full
    distinct-token count (coverage can never exceed it, so >= is then
    equality); minimum_should_match sets a lower threshold. Scoring is
    the UNCHANGED fold restricted to those docs (a covered doc's score
    is the full BM25 sum either way), so coverage-filtered scores are
    bit-identical to the OR scores of the same docs.

    ``exclude`` activates MUST-NOT semantics: {query_id: [terms]} whose
    matching docs are dropped from that query's result AFTER scoring
    (Lucene BooleanQuery MUST_NOT). Excluded terms' blocks arrive with
    the group (the caller widens the block fetch) but contribute no
    scoring column; group-locality makes the exclusion test exact for
    the same reason as coverage.

    ``fieldw`` ((split, w_title, w_body)) scores positional-split BM25F;
    _decode_tfn derives the per-field tf from the positions stream.

    ``after`` ({query_id: (score, doc_id) cursor}) activates
    SEARCH-AFTER pagination: only candidates STRICTLY after the cursor
    in the result total order (score DESC, doc_id ASC) survive —
    ``score < s  OR  (score == s AND doc_id > d)``. The mask runs on
    the folded scores BEFORE local top-k extraction, so each shard's
    k survivors are the true after-cursor leaders (OpenSearch
    search_after semantics; the float equality is sound because the
    cursor comes from this engine's own bit-exact scores).

    ``collapse`` activates FIELD COLLAPSING (OpenSearch `collapse`):
    the side rows carry a ``value`` column (the stored attribute of
    every eligible doc — they double as the qualifying set, so
    ``collapse`` implies ``side``); after each
    query's fold, candidates sort by the total order (score DESC,
    doc_id ASC) and only the FIRST doc per
    distinct value survives (NULL is one group), up to k — each group
    emits at most k rows per query, one per collapse group, and the
    output gains a ``value`` column. Scores are the unchanged dense
    fold; per-group emission of the local collapsed top-k is globally
    exact (a group in the global collapsed top-k has < k groups ahead
    of it inside its best doc's shard — any group ahead there is ahead
    globally too, its global best being >= its shard-local best).

    Returns ``topk(blocks, norms)`` (``norms``: the shard's
    _read_shard_norms pair): an Arrow record batch of the shard's tops
    (query_id int32, doc_id int64, score float64 [, value string]), or
    None when nothing matches; with ``side``, ``topk_side(blocks,
    side_pdf, norms)`` returns the same rows as the pandas frame
    applyInPandas needs."""
    if collapse and not side:
        raise ValueError("collapse requires the side frame "
                         "(attribute rows double as qualifying ids)")
    if collapse and after:
        raise ValueError(
            "search_after does not compose with collapse: a doc-level "
            "cursor mask could resurface a page-1 group via its "
            "second-best doc"
        )

    schema = pa.schema([("query_id", pa.int32()), ("doc_id", pa.int64()),
                        ("score", pa.float64())]
                       + ([("value", pa.string())] if collapse else []))

    def _run(blocks: pa.Table, norms: tuple,
             qual: np.ndarray | None,
             vals: np.ndarray | None = None) -> "pa.RecordBatch | None":
        w_of: dict[str, float] = {
            t: w for tw in q_terms.values() for t, w in tw
        }
        if not blocks.num_rows:
            return None
        raw = _decode_tfn(blocks, norms, k1, b, avgdl, tomb=tombstones,
                          qual=qual, fieldw=fieldw)
        if not raw:
            return None
        # group doc universe; HYBRID per-term representation: a dense
        # contribution column only for HEAVY terms (df >= universe/8 — the
        # head of the Zipf where the dense fold's O(universe) streaming
        # add is already proportional to the work), sparse (positions,
        # contribs) for the long tail (a rare term's dense column was
        # ~universe/df x more memory traffic than its data; at 500-query
        # batches the fold is BANDWIDTH-bound, so wasted traffic is wall
        # time at every core count and contention at high ones). Fold
        # order stays bit-exact: per ELEMENT, contributions are added in
        # the same qpos sequence — skipping a term's zero elements drops
        # only exact `x + 0.0` no-ops (a doc appears once per term, so
        # plain assignment/scatter — no accumulation within a term).
        # the doc universe spans SCORING terms only: an exclusion-only
        # term's docs can never rank (no positive contribution), so they
        # would only inflate the dense columns' width
        score_ids = [ids for t, (ids, _) in raw.items() if t in w_of]
        if not score_ids:
            return None
        uids_g = np.unique(np.concatenate(score_ids))
        U = len(uids_g)
        heavy_at = max(1, U // 8)
        dense: dict[str, np.ndarray] = {}
        sparse: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        # conjunctive queries need each term's doc positions for the
        # coverage count (dense columns lose them to O(U) scans)
        pres: dict[str, np.ndarray] = {}
        for t, (ids, tfn) in raw.items():
            if t not in w_of:
                continue  # exclusion-only term: positions extracted below
            pos = np.searchsorted(uids_g, ids)
            contrib = w_of[t] * tfn
            if and_need:
                pres[t] = pos
            if len(ids) >= heavy_at:
                col = np.zeros(U)
                col[pos] = contrib
                dense[t] = col
            else:
                sparse[t] = (pos, contrib)
        # per excluded term: UNIVERSE POSITIONS of its docs (intersection
        # with uids_g — an excluded doc outside every scoring term's
        # postings is already absent from any candidate set). A term can
        # be scored in one query and excluded in another, so this reads
        # raw, not dense/sparse.
        ex_pos_of: dict[str, np.ndarray] = {}
        if exclude:
            for t in {t for ts in exclude.values() for t in ts}:
                got = raw.get(t)
                if got is None:
                    continue
                ids = got[0]
                pos = np.searchsorted(uids_g, ids)
                pos_c = np.minimum(pos, U - 1)
                valid = (pos < U) & (uids_g[pos_c] == ids)
                if valid.any():
                    ex_pos_of[t] = np.unique(pos[valid])
        raw.clear()

        rows_q, rows_d, rows_s, rows_v = [], [], [], []
        for qid, tw in q_terms.items():
            present = [t for t, _w in tw if t in dense or t in sparse]
            if not present:
                continue
            need = and_need.get(qid) if and_need else None
            and_pos = None
            if need is not None:
                tset = set(present)
                if len(tset) < need:
                    continue  # too few terms in this doc range to cover
                cover = np.zeros(U, dtype=np.int32)
                for t in tset:
                    cover[pres[t]] += 1
                # >= serves both semantics: mode='and' sets need to the
                # full distinct-token count (cover can't exceed it), msm
                # sets a lower threshold
                and_pos = np.flatnonzero(cover >= need)
                if not len(and_pos):
                    continue
            ex_pos = None
            if exclude and qid in exclude:
                parts_ex = [
                    ex_pos_of[t] for t in exclude[qid] if t in ex_pos_of
                ]
                if parts_ex:
                    ex_pos = (
                        parts_ex[0] if len(parts_ex) == 1
                        else np.unique(np.concatenate(parts_ex))
                    )
            light_mass = sum(
                len(sparse[t][0]) for t in present if t in sparse
            )
            if any(t in dense for t in present) or light_mass * 4 > U:
                # dense accumulate over the whole universe; light terms
                # scatter into it (fancy-index +=: positions are unique
                # within a term, so no np.add.at needed)
                scores: np.ndarray | None = None
                for t in present:  # qpos order — the bit-exact fold order
                    col = dense.get(t)
                    if col is not None:
                        if scores is None:
                            scores = col.copy()
                        else:
                            np.add(scores, col, out=scores)
                    else:
                        pos, contrib = sparse[t]
                        if scores is None:
                            scores = np.zeros(U)
                            scores[pos] = contrib
                        else:
                            scores[pos] += contrib
                if and_pos is not None:
                    # covered docs carry >= 1 strictly-positive
                    # contribution, so their scores are already nonzero
                    nz = and_pos
                else:
                    nz = np.flatnonzero(scores)  # contributions > 0
                if ex_pos is not None and len(nz):
                    nz = nz[~_in_sorted(nz, ex_pos)]
                if not len(nz):
                    continue
                sc = scores[nz]
                ids_nz = uids_g[nz]
            else:
                # sparse path: candidate set = union of the light terms'
                # posting positions (== the nonzero set exactly, since
                # contributions are strictly > 0)
                # a single term's positions are UNIQUE but not sorted:
                # within a term, blocks arrive in file order, and lineage
                # groups' doc ranges interleave (streamed appends into an
                # existing shard's id range) — searchsorted below needs
                # sorted cand
                parts = [sparse[t][0] for t in present]
                cand = (
                    np.sort(parts[0]) if len(parts) == 1
                    else np.unique(np.concatenate(parts))
                )
                sc = np.zeros(len(cand))
                for t in present:  # qpos order
                    pos, contrib = sparse[t]
                    sc[np.searchsorted(cand, pos)] += contrib
                # covered/surviving ⊆ union: project the kept docs out
                # of the candidate-set scores (same folded values)
                sel = and_pos if and_pos is not None else cand
                if ex_pos is not None and len(sel):
                    sel = sel[~_in_sorted(sel, ex_pos)]
                if not len(sel):
                    continue
                if sel is not cand:
                    sc = sc[np.searchsorted(cand, sel)]
                ids_nz = uids_g[sel]
            aft = after.get(qid) if after else None
            if aft is not None:
                s_cur, d_cur = aft
                m = (sc < s_cur) | ((sc == s_cur) & (ids_nz > d_cur))
                if not m.all():
                    sc, ids_nz = sc[m], ids_nz[m]
                    if not len(sc):
                        continue
            if collapse:
                # field collapsing: total-order sort, first doc per
                # distinct side value (candidates ⊆ qual ⊆ side ids, so
                # every candidate has a value; NULL/NaN is one group via
                # use_na_sentinel=False), first k groups in rank order
                gv = vals[np.searchsorted(qual, ids_nz)]
                order = np.lexsort((ids_nz, -sc))
                codes, _u = pd.factorize(
                    pd.Series(gv[order], dtype="object"),
                    use_na_sentinel=False,
                )
                first_idx = np.sort(
                    np.unique(codes, return_index=True)[1]
                )[:k]
                keep = order[first_idx]
                rows_v.append(gv[keep])
            elif len(sc) > k:
                # exact top-k under the TOTAL order (score desc, doc_id
                # asc): kth score via partition, keep the tie plateau,
                # lexsort survivors, cut to k
                kth = -np.partition(-sc, k - 1)[k - 1]
                plat = np.flatnonzero(sc >= kth)
                keep = plat[np.lexsort((ids_nz[plat], -sc[plat]))][:k]
            else:
                keep = np.lexsort((ids_nz, -sc))
            rows_q.append(np.full(len(keep), qid, dtype=np.int32))
            rows_d.append(ids_nz[keep])
            rows_s.append(sc[keep])
        if not rows_q:
            return None
        out = [np.concatenate(rows_q), np.concatenate(rows_d),
               np.concatenate(rows_s)]
        if collapse:
            # pandas surfaces NULL attrs as NaN; emit real None so the
            # Spark string column carries NULL (one NULL collapse group,
            # matching SQL PARTITION BY)
            out.append([None if (v is None or v != v) else v
                        for v in np.concatenate(rows_v)])
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(out, schema)],
            schema=schema,
        )

    def topk(blocks: pa.Table, norms: tuple) -> "pa.RecordBatch | None":
        return _run(blocks, norms, None)

    def topk_side(blocks: pa.Table, side_pdf: pd.DataFrame,
                  norms: tuple) -> pd.DataFrame:
        # side form: side_pdf carries this shard's qualifying ids (with
        # their collapse values); applyInPandas wants a pandas frame
        qual, vals = _parse_side(side_pdf)
        out = _run(blocks, norms, qual, vals)
        return (out if out is not None else schema.empty_table()).to_pandas()

    return topk_side if side else topk


def _parse_side(side_pdf: pd.DataFrame):
    """A shard's side frame as (its doc ids sorted, their ``value``
    column in the same order | None when the side carries none)."""
    ids = side_pdf["doc_id"].to_numpy(dtype=np.int64, copy=True)
    o = np.argsort(ids, kind="stable")
    vals = (side_pdf["value"].to_numpy()[o]
            if "value" in side_pdf.columns else None)
    return ids[o], vals


def _direct_topk_gen(kernel, cols: list[str], terms: list[str],
                     fm: dict, tombstones: "tuple | None", nm: dict):
    """DIRECT-plan mapInArrow body: each task reads its shard's parquet
    files straight from the index dir via pyarrow (layout 3's
    shard-clustered files), runs the per-shard kernel on them with the
    shard's norms (read from ``nm``, Index.norm_file_map, only when a
    block matched) and yields its Arrow record batch of tops (a shard
    with no match yields none).

    Why: a scan->kernel exchange + JVM->Python Arrow hop costs ~0.9 s
    per batch nearly INDEPENDENT of core count (measured 0.90 s at
    local[8] vs 1.13 s at local[2] on a 2.2M-turn index) — the fixed term
    that capped q100 batch scaling at ~0.70 (VERDICT r04 #4). Reading in
    the kernel removes the exchange, the JVM scan, and the Arrow transfer
    in one move; it is also the 100 TB shape — search tasks read their
    index shard from shared storage, like any segment-replicated search
    fleet, instead of re-shuffling the index per query batch.

    The input frame is ``spark.range(len(fm))``: row i names the i-th
    shard of ``fm`` ({shard_id: [(gseq, path), ...]},
    Index.shard_file_map) in sorted order. A createDataFrame(rows)
    work-item frame was a pickled-parallelize PythonRDD whose evaluation
    needs a python worker from the non-Arrow factory — the first direct
    search in a session serialized all task threads behind
    SparkEnv.createPythonWorker while a second daemon + worker pool
    booted (~1.6 s PER TASK, uniform — measured), and every later search
    paid a python hop to scan a few hundred bytes. A range scan is pure
    JVM; the file map ships once per task in this closure, like the
    query weights already do."""
    need_gseq = tombstones is not None and len(tombstones[0]) > 0
    shards = sorted(fm)
    entries = [fm[s] for s in shards]
    norm_entries = [nm.get(s, []) for s in shards]
    cols = list(cols)
    terms = list(terms)

    def gen(batches):
        for work in batches:
            for i in work.column("id").to_pylist():
                blocks = _read_shard_blocks(entries[i], cols, terms,
                                            need_gseq)
                if not blocks.num_rows:
                    continue
                out = kernel(blocks, _read_shard_norms(norm_entries[i]))
                if out is not None:
                    yield out

    return gen


def _term_bounds(md) -> list:
    """Each row group's ``term`` (min, max) from a file's parquet
    metadata; None where the statistics are missing ("may hold")."""
    ti = md.schema.names.index("term")
    out = []
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(ti).statistics
        out.append((st.min, st.max) if st is not None and st.has_min_max
                   else None)
    return out


def _row_groups_for(bounds: list, want: list[str]) -> list[int]:
    """The row groups whose term range can hold a term of the sorted
    ``want``."""
    keep = []
    for i, mm in enumerate(bounds):
        if mm is not None:
            j = bisect_left(want, mm[0])
            if j == len(want) or want[j] > mm[1]:
                continue
        keep.append(i)
    return keep


class _BlockCache:
    """The driver route's posting row-group cache, one per Index handle
    (Index.block_cache; refresh() drops it). Per file it keeps the Arrow
    schema and each row group's term bounds, taken when the file is
    first opened, so pruning needs no open; per (file, row group,
    column) the Arrow column exactly as parquet decoded it — blocks stay
    vbyte-encoded, so a warm call skips the open, the footer parse and
    the decompression but still decodes, masks and scores. Each column
    is charged its Arrow ``nbytes``: least recently used columns are
    evicted once ``nbytes`` would pass ``budget``, and a column larger
    than the budget is returned but not kept. One lock guards every
    lookup, insert and eviction; reads run outside it."""

    def __init__(self, budget: int):
        self.budget = budget
        self.nbytes = 0
        self._files: dict[str, tuple] = {}
        self._cols: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def _take(self, path: str, rg: int, cols: list[str]) -> dict:
        with self._lock:
            got = {}
            for c in cols:
                a = self._cols.get((path, rg, c))
                if a is not None:
                    self._cols.move_to_end((path, rg, c))
                    got[c] = a
            return got

    def _put(self, path: str, rg: int, cols: dict) -> None:
        with self._lock:
            for c, a in cols.items():
                if a.nbytes > self.budget:
                    continue
                old = self._cols.pop((path, rg, c), None)
                if old is not None:  # another thread read it meanwhile
                    self.nbytes -= old.nbytes
                self._cols[(path, rg, c)] = a
                self.nbytes += a.nbytes
                while self.nbytes > self.budget:
                    self.nbytes -= self._cols.popitem(last=False)[1].nbytes

    def read(self, path: str, cols: list[str],
             want: list[str]) -> tuple[pa.Schema, "pa.Table | None"]:
        """(the file's Arrow schema, ``cols`` of its row groups that can
        hold a term of ``want`` — None when none can): the same table
        pq.ParquetFile.read_row_groups returns, read only where the
        cache misses."""
        f = None
        try:
            with self._lock:
                meta = self._files.get(path)
            if meta is None:
                f = pq.ParquetFile(path)
                meta = (f.schema_arrow, _term_bounds(f.metadata))
                with self._lock:
                    self._files[path] = meta
            schema, bounds = meta
            keep = _row_groups_for(bounds, want)
            if not keep:
                return schema, None
            out = pa.schema([schema.field(c) for c in cols],
                            metadata=schema.metadata)
            tables = []
            for rg in keep:
                got = self._take(path, rg, cols)
                miss = [c for c in cols if c not in got]
                if miss:
                    if f is None:
                        f = pq.ParquetFile(path)
                    t = f.read_row_group(rg, columns=miss, use_threads=False)
                    read = {c: t.column(c) for c in miss}
                    self._put(path, rg, read)
                    got.update(read)
                tables.append(pa.Table.from_arrays(
                    [got[c] for c in cols], schema=out))
            return schema, pa.concat_tables(tables)
        finally:
            if f is not None:
                f.close()


def _read_file(path: str, cols: list[str], want: list[str],
               cache: "_BlockCache | None"):
    """(Arrow schema, ``cols`` of the row groups of ``path`` that can
    hold a term of ``want`` | None): through ``cache`` when given."""
    if cache is not None:
        return cache.read(path, cols, want)
    with pq.ParquetFile(path) as f:
        keep = _row_groups_for(_term_bounds(f.metadata), want)
        return f.schema_arrow, (
            f.read_row_groups(keep, columns=cols, use_threads=False)
            if keep else None
        )


def _read_shard_blocks(entry: list, cols: list[str],
                       terms: list[str], need_gseq: bool,
                       cache: "_BlockCache | None" = None) -> pa.Table:
    """The one block reader of every route: the rows of ``terms`` in one
    shard's posting files ``entry`` ([(gseq, path), ...], layout-3
    clustered tree), in file order. Per file it reads only the row
    groups whose ``term`` min/max statistics can hold a query term (row
    groups are term-sorted within a bucket file; missing statistics
    count as "may hold"), then keeps the query terms' rows.
    use_threads=False: a task must stay inside its ONE Spark core slot —
    arrow's default pool would use every host core, silently
    oversubscribing executors (and faking low-core scaling
    measurements). With ``need_gseq`` files are read grouped by lineage
    seq and tagged with it, so per-group tombstone masking stays exact
    when a delete must mask only older groups. The table comes back as
    one chunk per column (a file or row group per chunk made every
    kernel filter several times slower); a call that matches no row
    returns the files' typed empty table. The driver route passes its
    handle's row-group cache (``cache``, Index.block_cache), which
    returns the same tables; executor tasks, side-direct groups and
    Index.term_stats_lookup (which reads the term_stats rows of uncached
    terms with this reader too) pass none."""
    if not entry:
        return pa.table({
            c: pa.array([], pa.null())
            for c in cols + (["gseq"] if need_gseq else [])
        })
    want = sorted(terms)
    if need_gseq:
        entry = sorted(entry, key=lambda e: int(e[0]))
    parts, schema = [], None
    for g, path in entry:
        file_schema, part = _read_file(path, cols, want, cache)
        if schema is None:
            schema = pa.schema([file_schema.field(c) for c in cols])
        if part is None:
            continue
        if need_gseq:
            part = part.append_column(
                "gseq", pa.array(np.full(part.num_rows, int(g), np.int64))
            )
        parts.append(part)
    if need_gseq:
        schema = schema.append(pa.field("gseq", pa.int64()))
    if parts:
        blocks = pa.concat_tables(parts)
        blocks = blocks.filter(pc.is_in(
            blocks.column("term"),
            value_set=pa.array(want, schema.field("term").type),
        ))
        if blocks.num_rows:
            return blocks.combine_chunks()
    return schema.empty_table()


def _collapse_window(shard_tops: DataFrame, k: int) -> DataFrame:
    """Global merge for FIELD COLLAPSING: per-shard collapsed candidates
    (query_id, doc_id, score, value) -> (query_id, rank, doc_id, score,
    value). Two windows over a tiny frame (<= k rows per query per
    shard): pick each (query, value) group's best doc under the total
    order (a group's true global best is always present — its shard
    emitted it; other shards' inferior representatives lose here), then
    rank the group representatives and keep the top k. NULL values form
    one group in partitionBy, matching SQL."""
    w_g = Window.partitionBy("query_id", "value").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        shard_tops.withColumn("rn_g", F.row_number().over(w_g))
        .filter(F.col("rn_g") == 1)
        .withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", "value")
    )


def _direct_side_fn(kernel_side, cols: list[str], terms: list[str],
                    file_map: dict, need_gseq: bool,
                    norm_map: dict | None = None):
    """SIDE-DIRECT plan body (r06): applyInPandas over the SIDE frame
    alone — qualifying ids or facet attribute rows, grouped by shard —
    with each group's posting blocks pyarrow-read IN-TASK from the
    shard-clustered layout. The blocks never cross an exchange; only
    the small side does. This is how `where=` filtered search, collapse
    and the match-set aggregations consume the direct layout; the
    kernel takes ``(blocks, side)`` frames — plus the shard's norms
    when ``norm_map`` (Index.norm_file_map) is given, as scoring needs —
    and masks tombstones with the pair in its own closure
    (``need_gseq`` tags the blocks for it).

    Validity: every group key is a WHOLE shard (the side is keyed by
    shard_shift), and a shard absent from the side is skipped, which
    is exact because the side lists every qualifying / countable doc.
    ``file_map`` is the tiny driver-side {shard_id: [(gseq, path),
    ...]} listing (n_shards entries of strings — closure-shipped like
    the query terms)."""

    def fn(key: tuple, side_pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(key[0])
        blocks = _read_shard_blocks(file_map.get(s, []), cols, terms,
                                    need_gseq)
        if norm_map is None:
            return kernel_side(blocks, side_pdf)
        norms = _read_shard_norms(norm_map.get(s, []) if blocks.num_rows
                                  else [])
        return kernel_side(blocks, side_pdf, norms)

    return fn


def _direct_search(ix: Index, kernel, cols: list[str], terms: list[str],
                   fm: dict, tomb: "tuple | None", occ: dict,
                   k: int) -> DataFrame:
    """The direct plan: below the route crossover the kernel runs in the
    driver (_local_search); above it, one ``spark.range`` work item per
    shard feeds the pyarrow-reading kernel (_direct_topk_gen). When the
    per-shard tops fit the driver row budget (at most k rows per query
    per shard) they are collected here — one job, one stage, one task
    per shard, no exchange — and merged by _merge_tops into a
    driver-resident LocalFrame. Over the budget the global merge stays
    lazy: the topk_window exchange."""
    if _serve_in_driver(ix, occ, terms, fm):
        # DRIVER route: the same per-shard kernel runs in this process —
        # pyarrow block reads + numpy fold, zero Spark jobs — when the
        # call's posting volume is below the route crossover
        # (_serve_in_driver). A Spark job pays a near-fixed cost per
        # call (task launch, Python-runner round trip, JIT) that only a
        # large posting volume split over the shards wins back; the
        # reference's query model is an in-process index probe
        # (search_indices.py:30-39), and the vocabulary stats and shard
        # file map are already driver-resident. Bit-exact: same kernel
        # closure and the same global merge (_merge_tops). The result
        # stays in this process: collecting it crosses no JVM boundary.
        return _local_search(ix, kernel, cols, terms, fm, tomb, k)
    tops = ix.spark.range(len(fm), numPartitions=len(fm)).mapInArrow(
        _direct_topk_gen(kernel, cols, terms, fm, tomb, ix.norm_file_map()),
        schema="query_id int, doc_id long, score double",
    )
    if len(occ) * len(fm) * k <= LOCAL_SEARCH_MAX_POSTINGS:
        # collecting the tops here skips the window's exchange, sort and
        # second job — the JVM CPU (mostly JIT compiling that tail) was
        # most of a warm call's cost
        return _merge_tops(ix.spark, [tops.toArrow()], k)
    return topk_window(tops, k)


def _merge_tops(spark, parts: list, k: int) -> DataFrame:
    """Global top-k merge of per-shard tops in the driver: ``parts`` are
    Arrow record batches or tables of (query_id, doc_id, score); the
    result keeps rank <= k per query under topk_window's exact total
    order (score DESC, doc_id ASC) and is a LocalFrame over the merged
    Arrow table: collect(), toArrow() and count() read it in this process
    (no JVM round trip), and a JVM operator on it builds the
    LocalRelation on demand. A doc lives in one shard, so no (query,
    doc) pair repeats across parts."""
    def col(name, dtype):
        return np.concatenate([np.empty(0, dtype)] + [
            np.asarray(p.column(name), dtype=dtype) for p in parts
        ])

    q = col("query_id", np.int32)
    d = col("doc_id", np.int64)
    s = col("score", np.float64)
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    # rank - 1 = offset from the first row of the query's sorted run
    first = np.ones(len(q), dtype=bool)
    first[1:] = q[1:] != q[:-1]
    rank = np.arange(len(q)) - np.flatnonzero(first)[np.cumsum(first) - 1]
    keep = rank < k
    return LocalFrame(spark, pa.table({
        "query_id": pa.array(q[keep], pa.int32()),
        "rank": pa.array(rank[keep] + 1, pa.int32()),
        "doc_id": pa.array(d[keep], pa.int64()),
        "score": pa.array(s[keep], pa.float64()),
    }))


# driver-side memory guard: the driver route reads at most this many
# postings across the fetched terms (decode memory ~= 3 int64 arrays over
# the postings, ~24 B each). The postings budget is also the driver's row
# budget for the direct plan's collected per-shard tops (queries x shards
# x k rows, ~24 B each). Env-tunable.
LOCAL_SEARCH_MAX_POSTINGS = int(
    os.environ.get("SPARKBM25_LOCAL_SEARCH_MAX_POSTINGS", "8000000")
)
# driver route: the Arrow bytes of posting row groups an Index handle
# keeps across calls (Index.block_cache, _BlockCache)
DRIVER_BLOCK_CACHE_BYTES = 256 << 20
# wall-time break-even of the two direct routes, in postings folded. The
# driver route costs ~W*c for a call folding W postings; the Spark route
# ~F + W*c/p over p parallel shard tasks, so the driver is no slower
# while W*(1 - 1/p) <= F/c. F/c is measured, not assumed:
# bench_results/route_crossover.json (tools/route_crossover.py, local[4],
# 1,000-25,000 conversations x 1/20/100 queries) puts it between 238k
# and 795k postings (256k-795k in an earlier run); 435k sits near the
# geometric middle of both intervals.
CROSSOVER_POSTINGS = 435_000


def _serve_in_driver(ix: Index, occ: dict, terms: list[str],
                     fm: dict) -> bool:
    """Route choice of the direct plan: True runs the call in the driver
    (_local_search), False as one Spark task per shard. Reads only
    driver-resident values — df from the term-stats cache and the shard
    file map — so it launches no job.

    W is the call's folded postings: Σdf per query occurrence (the fold
    runs per query). With p = min(shards, defaultParallelism) parallel
    tasks the driver wins on wall time while W*(1 - 1/p) <=
    CROSSOVER_POSTINGS (always at p = 1); it always wins on CPU. The
    memory guard caps the postings the driver reads (Σdf over the
    distinct fetched terms) at LOCAL_SEARCH_MAX_POSTINGS."""
    stats = ix.term_stats_lookup(terms)
    if sum(stats.values()) > LOCAL_SEARCH_MAX_POSTINGS:
        return False
    w = sum(stats[t] for tw in occ.values() for t, _w in tw if t in stats)
    if w <= CROSSOVER_POSTINGS:
        return True
    p = min(len(fm), ix.spark.sparkContext.defaultParallelism)
    return w * (1.0 - 1.0 / p) <= CROSSOVER_POSTINGS


def _local_search(ix: Index, kernel, cols: list[str], terms: list[str],
                  fm: dict, tomb: "tuple | None", k: int) -> DataFrame:
    """Driver-side execution of the direct route: read each shard's block
    files with _read_shard_blocks, run the unchanged per-shard kernel
    with the shard's norms (cached on the handle, Index.shard_norms) and
    merge the tops with _merge_tops, the same merge the collected Spark
    plan ends in. Shards run one after another in this thread: a call
    below the route crossover reads a few small files, so a per-call
    thread pool cost more CPU than it saved wall time. Returns a
    LocalFrame: the call does all its work here, and collecting the
    result reads the merged Arrow table without a JVM round trip. The
    posting row groups come through the handle's cache
    (Index.block_cache), so a warm call opens no file and decompresses
    nothing; it still decodes, masks, scores and merges every time."""
    need_gseq = tomb is not None and len(tomb[0]) > 0
    cache = ix.block_cache()
    tops = []
    for s in sorted(fm):
        blocks = _read_shard_blocks(fm[s], cols, terms, need_gseq, cache)
        if blocks.num_rows:
            tops.append(kernel(blocks, ix.shard_norms(s)))
    return _merge_tops(ix.spark, [t for t in tops if t is not None], k)


PHRASE_MATCH_SCHEMA = "query_id int, doc_id long, ptf int, dl int"


def _phrase_match_fn(q_phrases: dict[int, list[str]],
                     tombstones: "tuple | None" = None,
                     slop: int = 0):
    """Per-shard phrase-occurrence kernel over POSITIONAL postings.

    For each query phrase t0..t(n-1): candidate docs are the AND of the
    terms' postings within the shard (a doc lives in exactly one doc-range
    shard, so the intersection is shard-local and exact); occurrences are
    counted by position intersection, fully vectorized ACROSS docs — each
    candidate doc gets a dense index ``didx`` and every term occurrence
    becomes a key ``didx * 2^32 + position`` (positions < 2^32 by
    construction: doc_len is bounded far below it), so the classic
    "starts = starts ∩ (positions(t_j) - j)" phrase walk is n-1 sorted
    membership probes over flat int64 arrays — no per-doc Python loop.
    Emits (query_id, doc_id, phrase_tf, doc_len) rows for phrase_tf > 0;
    BM25 weighting over phrase_tf happens plan-side (index_phrase_search).

    ``slop`` > 0 relaxes adjacency to PROXIMITY: each consecutive term
    pair may be separated by up to ``slop`` intervening tokens (position
    gap in [1, slop+1]); ptf counts the distinct FIRST-term positions
    beginning at least one valid chain. Computed by backward dynamic
    programming over the same flat keys — live(t_last) = its occurrence
    keys; live(t_j) = keys(t_j) reachable from live(t_j+1) via any gap d,
    i.e. an OR of slop+1 sorted membership probes per level ((n-1) *
    (slop+1) probes total, still no per-doc loop). A chain never crosses
    a doc boundary (pos + slop + 1 << 2^32). slop=0 keeps the original
    forward walk bit-for-bit.

    Tombstones mask per (id, group-seq) at decode, exactly like the
    scoring kernels; doc lengths are gathered from the shard's ``norms``
    after the mask."""
    def topk(blocks: pa.Table, norms: tuple) -> "pa.RecordBatch | None":
        if not blocks.num_rows:
            return None
        # per-term doc order: blocks of one (term, shard) partition the
        # sorted posting list, so ordering by first_doc restores it
        blocks = _sorted_blocks(blocks, ("term", "first_doc"))
        post = decode_blocks(
            blocks.column("n_docs"), blocks.column("docs_vbyte"),
            tfs=blocks.column("tfs_vbyte"), pos=blocks.column("pos_vbyte"),
            gseq=_gseq_col(blocks), tomb=tombstones,
        )
        post_dls = _gather_norms(norms, post.ids).astype(np.int64)
        tok_off = np.r_[0, np.cumsum(post.tfs)]
        tdata: dict[str, tuple] = {}
        for t, lo, hi in _term_slices(blocks, post.row_off):
            ids_t = post.ids[lo:hi]
            tfs_t = post.tfs[lo:hi]
            dls_t = post_dls[lo:hi]
            pos_t = post.pos[tok_off[lo]:tok_off[hi]]
            if np.any(ids_t[1:] < ids_t[:-1]):
                # blocks of one (term, shard) ascend only WITHIN a lineage
                # group; group doc ranges interleave (streamed appends),
                # and everything below — _in_sorted intersections and the
                # didx<<32|pos occurrence keys — requires globally
                # ascending per-term postings. Ragged re-sort: positions
                # gather by per-posting segment.
                order = np.argsort(ids_t, kind="stable")
                starts_t = np.cumsum(tfs_t) - tfs_t
                cnt_o = tfs_t[order]
                intra = np.arange(int(cnt_o.sum()), dtype=np.int64)
                intra -= np.repeat(np.cumsum(cnt_o) - cnt_o, cnt_o)
                pos_t = pos_t[np.repeat(starts_t[order], cnt_o) + intra]
                ids_t, tfs_t, dls_t = ids_t[order], cnt_o, dls_t[order]
            tdata[t] = (ids_t, tfs_t, dls_t, pos_t)

        rows_q, rows_d, rows_p, rows_l = [], [], [], []
        for qid, terms in q_phrases.items():
            uniq_terms = set(terms)
            if not uniq_terms <= set(tdata):
                continue
            # candidate docs: AND over the distinct terms' posting ids
            inter = None
            for t in uniq_terms:
                ids_t = tdata[t][0]
                inter = ids_t if inter is None else inter[
                    _in_sorted(inter, ids_t)
                ]
                if not len(inter):
                    break
            if inter is None or not len(inter):
                continue
            # per distinct term: flat occurrence keys didx*2^32 + pos,
            # restricted to the intersection (computed once per term)
            keys: dict[str, np.ndarray] = {}
            dl_of = None
            for t in uniq_terms:
                ids_t, tfs_t, dls_t, pos_t = tdata[t]
                sel = _in_sorted(ids_t, inter)
                didx = np.searchsorted(inter, ids_t[sel])
                cnt = tfs_t[sel]
                pos_sel = pos_t[np.repeat(sel, tfs_t)]
                keys[t] = np.repeat(didx << np.int64(32), cnt) + pos_sel
                if dl_of is None:
                    dl_of = np.zeros(len(inter), dtype=np.int64)
                dl_of[didx] = dls_t[sel]
            if slop == 0:
                starts = keys[terms[0]]
                for j, t in enumerate(terms[1:], start=1):
                    if not len(starts):
                        break
                    starts = starts[
                        _in_sorted(starts + np.int64(j), keys[t])
                    ]
            else:
                # backward DP: live = keys of t_j that can reach a live
                # key of t_{j+1} via a gap of 1..slop+1
                live = keys[terms[-1]]
                for t in terms[-2::-1]:
                    if not len(live):
                        break
                    cand = keys[t]
                    ok = np.zeros(len(cand), dtype=bool)
                    for d in range(1, slop + 2):
                        ok |= _in_sorted(cand + np.int64(d), live)
                    live = cand[ok]
                starts = live
            if not len(starts):
                continue
            ptf = np.bincount(
                (starts >> np.int64(32)).astype(np.int64),
                minlength=len(inter),
            )
            nz = np.flatnonzero(ptf)
            rows_q.append(np.full(len(nz), qid, dtype=np.int32))
            rows_d.append(inter[nz])
            rows_p.append(ptf[nz].astype(np.int32))
            rows_l.append(dl_of[nz].astype(np.int32))
        if not rows_q:
            return None
        return pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in
             (rows_q, rows_d, rows_p, rows_l)],
            ["query_id", "doc_id", "ptf", "dl"],
        )

    return topk


def index_phrase_search(
    ix: Index,
    phrases: list[tuple[int, str]],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
    slop: int = 0,
) -> DataFrame:
    """Exact top-k PHRASE search: docs containing the exact token sequence,
    ranked by BM25 over the PHRASE frequency — score = idf(df_phrase) *
    tf_norm(phrase_tf, dl), where df_phrase is the number of matching docs
    (the phrase treated as one composite term; idf computed driver-side
    from the matched counts with the same libm as the oracle, tf_norm pure
    Catalyst arithmetic). Requires BuildParams(store_positions=True).

    ``slop`` relaxes adjacency to ordered PROXIMITY (Lucene
    SloppyPhraseQuery analog with a per-gap bound, which keeps the
    semantics SQL-expressible): consecutive phrase terms may be separated
    by up to ``slop`` intervening tokens, and phrase_tf counts distinct
    first-term positions beginning a valid chain (see _phrase_match_fn).
    slop=0 (default) is exact adjacency, bit-identical to the original
    path.

    Plan: the position-intersection kernel runs per shard on the direct
    plan (r06): each task pyarrow-reads its shard's files — including
    the heavy positional stream, which therefore never crosses an
    exchange — then the tiny (query, doc, phrase_tf) stream flows into
    Catalyst scoring and the topk_window exchange, the plan's only
    shuffle (index_search's direct plan instead merges its per-shard
    tops in the driver, with no exchange).

    Returns (query_id, rank, doc_id, score); queries whose phrase matches
    nothing (or with an absent term) yield no rows."""
    from .bm25 import idf as idf_py
    from .query import tf_norm_col
    from .xxhash64 import spark_pmod_bucket

    spark = ix.spark
    if not ix.manifest["build"].get("store_positions"):
        raise ValueError(
            "this index stores no positional postings; rebuild with "
            "BuildParams(store_positions=True) to serve phrase queries"
        )
    eff_k1 = ix.k1 if k1 is None else float(k1)
    eff_b = ix.b if b is None else float(b)
    if not (eff_k1 >= 0.0):
        raise ValueError(f"k1 must be >= 0, got {eff_k1}")
    if not (0.0 <= eff_b <= 1.0):
        raise ValueError(f"b must be in [0, 1], got {eff_b}")
    if not isinstance(slop, int) or slop < 0:
        raise ValueError(f"slop must be an int >= 0, got {slop!r}")
    tomb = ix.tombstones_pair() if ix.n_deleted() else None
    q_phrases: dict[int, list[str]] = {}
    for qid, text in phrases:
        toks = tokenize_py(text)
        if toks:
            q_phrases[qid] = toks
    empty = local_df(
        spark, [], "query_id int, rank int, doc_id long, score double"
    )
    if not q_phrases:
        return empty
    terms = sorted({t for ts in q_phrases.values() for t in ts})
    buckets = sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in terms}
    )
    fm = ix.shard_file_map(buckets)
    if not fm:
        return empty
    cols = ["term", "n_docs", "first_doc",
            "docs_vbyte", "tfs_vbyte", "pos_vbyte"]
    # range-scan work items (see _direct_topk_gen: pure-JVM input, file
    # lists in the closure — no PythonRDD scan)
    matched = spark.range(len(fm), numPartitions=len(fm)).mapInArrow(
        _direct_topk_gen(
            _phrase_match_fn(q_phrases, tombstones=tomb, slop=slop),
            cols, terms, fm, tomb, ix.norm_file_map(),
        ),
        schema=PHRASE_MATCH_SCHEMA,
    )
    # materialize the (small) match stream once: the df-per-query count and
    # the scoring pass must see the same rows without re-running the kernel
    matched = matched.localCheckpoint(eager=True)
    counts = {
        r.query_id: r.cnt
        for r in matched.groupBy("query_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    if not counts:
        return empty
    # idf from the SAME libm as the oracle (glibc via CPython math.log —
    # JVM Math.log rounds differently on ~9% of inputs, query.score_all)
    idf_df = local_df(
        spark, [(q, idf_py(c, ix.n_docs)) for q, c in counts.items()],
        "query_id int, idf double",
    )
    scored = (
        matched.select(
            "query_id", "doc_id",
            F.col("ptf").alias("tf"), F.col("dl").alias("doc_len"),
        )
        .join(F.broadcast(idf_df), "query_id")
        .select(
            "query_id", "doc_id",
            (F.col("idf") * tf_norm_col(ix.avgdl, eff_k1, eff_b))
            .alias("score"),
        )
    )
    return topk_window(scored, k)


def index_prefix_search(
    ix: Index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int | None = None,
    **kwargs,
) -> DataFrame:
    """Top-k BM25 with trailing-wildcard (prefix) tokens: 'jo*' expands
    to every vocabulary term starting with 'jo', each scored with ITS
    OWN idf as one occurrence at the wildcard's query position
    (expansions fold in term-asc order — deterministic), exact tokens
    score unchanged. A doc matching several expansions accumulates all
    of them — standard disjunctive multi-term (Lucene PrefixQuery/
    SynonymQuery-per-expansion with per-term idf) semantics, and the
    SQL-expressible one: the oracle joins terms on LIKE 'stem%' and
    sums the same contributions (sqlgen.prefix_topk_sql).

    ``max_expansions`` bounds each stem's expansion to its N highest-df
    terms (deterministic df DESC, term ASC cap — Index.prefix_expand);
    None expands fully.

    Resolution happens driver-side against the vocabulary artifact
    (term_stats: |vocab| rows); the search itself delegates to
    index_search's kernels via the resolved occurrence list, so every
    strategy/filter/override there serves prefix queries too."""
    parsed: dict[int, list[tuple[str, bool]]] = {}
    for qid, q in queries:
        # a duplicated query_id merges its occurrences, like index_search
        parsed.setdefault(qid, []).extend(parse_prefix_query(q))
    exact = sorted(
        {t for p in parsed.values() for t, ip in p if not ip}
    )
    stems = sorted({t for p in parsed.values() for t, ip in p if ip})
    stats = ix.term_stats_lookup(exact) if exact else {}
    exp = ix.prefix_expand(stems, max_expansions) if stems else {}
    occ: dict[int, list[tuple[str, float]]] = {}
    for qid, toks in parsed.items():
        # (term, idf) per resolved occurrence, query order
        present: list[tuple[str, float]] = []
        for t, is_pref in toks:
            if is_pref:
                for term, df in exp.get(t, ()):
                    present.append((term, idf_fn(df, ix.n_docs)))
            elif (df := stats.get(t)) is not None:
                present.append((t, idf_fn(df, ix.n_docs)))
        if present:
            occ[qid] = present
    return index_search(ix, queries, k=k, _resolved=occ, **kwargs)


def filtered_live_stats(ix: Index, where: dict | None = None,
                        where_expr=None, ds: DataFrame | None = None
                        ) -> DataFrame:
    """LIVE doc_stats restricted by the shared where=/where_expr filter
    contract (filtered search AND facets route through here, so the
    qualifying-doc semantics cannot diverge). Live rows only: a
    re-ingested doc has a dead old doc_stats row whose stale attributes
    must not qualify it. ``ds`` lets a caller that already built the
    live view reuse it instead of re-deriving the tombstone join."""
    if ds is None:
        ds = ix.live_doc_stats()
    missing = sorted(set(where or {}) - set(ds.columns))
    if missing:
        raise ValueError(
            f"attributes {missing} not stored in this index's "
            f"doc_stats (build with BuildParams(attr_cols=...)); "
            f"stored columns: {sorted(ds.columns)}"
        )
    out = ds
    for c, v in (where or {}).items():
        out = out.filter(
            F.col(c).isin(*list(v))
            if isinstance(v, (list, tuple, set))
            else F.col(c) == v
        )
    if where_expr is not None:
        out = out.filter(where_expr)
    return out


def index_fuzzy_search(
    ix: Index,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_dist: int = 1,
    max_expansions: int | None = None,
    **kwargs,
) -> DataFrame:
    """Top-k BM25 with FUZZY matching (Lucene FuzzyQuery analog): every
    query token expands to the vocabulary terms within ``max_dist``
    unit-cost edits of it (Levenshtein; the token itself at distance 0),
    and each expansion scores as one occurrence at the token's query
    position with ITS OWN idf, folded in term-asc order — identical
    disjunctive multi-term semantics to index_prefix_search, and the
    SQL-expressible one (sqlgen.fuzzy_topk_sql). Unlike Lucene there is
    no similarity boost: expansions weigh by idf alone (closer terms are
    usually rarer, so idf already de-weights wild expansions).

    ``max_expansions`` caps each token's expansion to its N highest-df
    terms (df DESC, term ASC — deterministic, replicated by the oracle);
    max_dist=0 degenerates to plain index_search. Resolution happens
    against the vocabulary artifact (Index.fuzzy_expand: preloaded-cache
    fast path, or a windowed plan with the cap applied IN the plan);
    the search itself delegates to index_search's kernels, so every
    strategy/filter/override there serves fuzzy queries too."""
    parsed: dict[int, list[str]] = {}
    for qid, q in queries:
        # a duplicated query_id merges its occurrences, like index_search
        parsed.setdefault(qid, []).extend(tokenize_py(q))
    stems = sorted({t for ts in parsed.values() for t in ts})
    exp = (
        ix.fuzzy_expand(stems, max_dist, max_expansions) if stems else {}
    )
    occ: dict[int, list[tuple[str, float]]] = {}
    for qid, toks in parsed.items():
        present = [
            (term, idf_fn(df, ix.n_docs))
            for t in toks for term, df in exp.get(t, ())
        ]
        if present:
            occ[qid] = present
    return index_search(ix, queries, k=k, _resolved=occ, **kwargs)


def index_bm25f_search(
    ix: Index,
    queries: list[tuple[int, str]],
    k: int = 10,
    title_tokens: int = 8,
    w_title: float = 2.0,
    w_body: float = 1.0,
    **kwargs,
) -> DataFrame:
    """Top-k BM25F served FROM THE INDEX (simple BM25F, Robertson &
    Zaragoza 2009 §3.3 — the same composition as bm25f.bm25f_score_topk,
    which remains the corpus-scan cross-check oracle).

    Fields are position-derived (title = the first ``title_tokens``
    tokens), so a positional index (BuildParams(store_positions=True))
    already carries the per-field tf information: the kernel counts each
    posting's positions below the split. That makes EVERY BM25F
    parameter — split point, field weights, k1/b — a query-time choice;
    nothing is baked at build. Weighted doc length and avgdl~ derive
    exactly from doc_stats integer sums (Index.bm25f_avgdl); df/idf are
    the unchanged any-field counts, matching the corpus-scan path.

    Delegates to index_search's dense kernel, so
    where=/k1/b/tombstones/mode/min_match/exclude all compose; with
    integer-valued weights results are bit-identical to the corpus-scan
    path pre-rounding.

    Reference analog: search params applied at query time over a
    prebuilt artifact (benchmarking/search/search_indices.py:16-39) —
    nothing re-reads the raw dataset at query time."""
    return index_search(
        ix, queries, k=k,
        fields=(title_tokens, w_title, w_body), **kwargs,
    )


def index_search(
    ix: Index,
    queries: list[tuple[int, str]],
    k: int = 10,
    strategy: str = "sharded",
    where: dict | None = None,
    where_expr=None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    min_match: int | None = None,
    exclude: dict[int, str] | None = None,
    fields: tuple | None = None,
    search_after: dict[int, tuple[float, int]] | None = None,
    collapse: str | None = None,
    _resolved: dict | None = None,
) -> DataFrame:
    """Exact top-k BM25 from the index.

    Plan (module doc): every shard's kernel pyarrow-reads only the query
    terms' posting files of that shard, scores every query in numpy and
    emits its local top-k. Without a side frame that is the direct plan:
    one ``spark.range`` work item per shard, or the driver process when
    the call's posting volume (Σdf per query occurrence) is below the
    measured route crossover (_serve_in_driver, CROSSOVER_POSTINGS);
    `where=`/`where_expr`/`collapse` take the side-direct plan.
    Tombstones change no plan: the kernel masks dead postings with the
    index's tombstone pair, shipped in its closure. An index whose
    posting layout predates 3 is refused (Index.shard_file_map);
    ``compact_index`` upgrades it.

    Execution: a direct-plan call served in the driver, and one whose
    per-shard tops fit the driver row budget (queries x shards x k <=
    LOCAL_SEARCH_MAX_POSTINGS), runs INSIDE this function (the latter as
    one Spark job) and returns the computed results as a driver-resident
    LocalFrame (localrel): collect(), toArrow() and count() read its
    Arrow table in Python with no JVM round trip, so session confs set
    around the collect no longer reach the search. A JVM operator on the
    result (join, filter, orderBy, write) builds the JVM LocalRelation
    on demand. An empty result is such a frame too. Over the budget, and
    on the side-direct plan, the returned DataFrame is lazy and the work
    runs at its action.

    `strategy` is "sharded" (default) or "blockmax"; both run the same
    exact dense scoring, where each shard's kernel decodes every block
    of the query terms once and folds every query over it. "blockmax"
    is accepted for callers written when it selected a block-max
    pruned kernel; it no longer changes the plan, the columns read or
    the results.

    `where` restricts the top-k to docs whose stored attributes match
    every predicate: `{"lang": "en"}` (equality) or `{"source": ["web",
    "wiki"]}` (membership). Attributes come from the build's `attr_cols`
    stored in doc_stats; the qualifying doc ids form the side frame,
    grouped by the doc-range shard key (no broadcast — scales to any
    corpus/filter size), and the kernel masks decoded postings to them.
    Standard filtered-search semantics: the filter narrows CANDIDATES;
    idf/avgdl stay global. Exact top-k of the filtered set, same tie
    contract.

    `where_expr` accepts an arbitrary Column predicate over the stored
    doc_stats columns for shapes the dict can't say (ranges, nulls,
    boolean compositions): ``where_expr=(F.col("ts") >= lo) &
    (F.col("role") == "user")``. Composes (AND) with `where`.

    `k1`/`b` override the BM25 shape parameters at QUERY time without a
    rebuild — tf and doc lengths are stored raw, tf_norm is computed in
    the kernel, and idf/avgdl don't depend on k1/b (the reference sweeps
    its search-time knob the same way, benchmarks.yml ef_search).

    `mode` selects the boolean semantics over the query's tokens:
    "or" (default) ranks any doc matching >= 1 token; "and" ranks only
    docs containing EVERY distinct token (conjunctive retrieval — the
    classic search-engine AND query). Scores are the same full BM25
    sums (an AND hit matches every term, so its OR and AND scores are
    bitwise identical); the doc-range sharding makes the coverage test
    group-local (see _sharded_topk_fn). Composes with
    where=/k1/b/tombstones.

    `min_match` (mode='or') is Lucene's minimum-should-match: rank only
    docs matching >= that many DISTINCT query tokens. A token absent
    from the corpus can never match, so a query whose corpus-present
    distinct tokens number fewer than min_match is unsatisfiable and
    returns no rows. min_match=1 is plain OR; min_match >= the
    distinct-token count behaves like mode='and'. Scores are the
    unchanged full BM25 sums of the surviving docs; the coverage test
    is group-local and exact, same as mode='and' (see
    _sharded_topk_fn). Composes with where=/k1/b/tombstones/exclude.

    `exclude` is Lucene's MUST_NOT: {query_id: "tokens ..."} — docs
    containing ANY of that query's excluded tokens are dropped from its
    result (scored docs only lose rows; idf/avgdl stay global, and
    remaining scores are bitwise unchanged). An excluded token absent
    from the corpus excludes nothing; a user-typed token that is both
    scored and excluded in the SAME query raises (always-empty by
    construction) — except under prefix expansion, where excluding one
    of a wildcard's own expansions ("w07*" minus "w0777") is legitimate
    and simply drops that token's docs. The kernel drops excluded docs
    after the fold. Composes with mode/min_match/where=/k1/b/tombstones
    and with prefix search (exclusion tokens are exact, never
    expanded).

    `search_after` is OpenSearch's stateless cursor pagination:
    {query_id: (score, doc_id)} — return the top-k candidates STRICTLY
    after the cursor in the result total order (score DESC, doc_id
    ASC), i.e. ``score < s OR (score == s AND doc_id > d)``. Chain
    pages by passing the last hit of each page as the next cursor;
    queries absent from the dict serve page 1. The mask runs on the
    folded scores in the kernel BEFORE local top-k extraction (each
    shard's survivors are the true after-cursor leaders), and the
    float equality is sound because cursors come from the engine's
    own bit-exact scores. Composes with where=/mode/min_match/exclude/
    k1/b/tombstones.

    `collapse` is OpenSearch's FIELD COLLAPSING: name a stored
    attribute (BuildParams(attr_cols=...)) and each query's top-k
    keeps only the BEST doc per distinct attribute value (total order
    score DESC, doc_id ASC; NULL attrs form one group), ranked 1..k
    over the surviving group representatives — "best hit per
    conversation/source/author". The output gains a ``value`` column
    (the group key, cast to string). Plan: the attribute side (one row
    per eligible doc: id + value, pre-filtered by where=) is the side
    frame, exactly like filtered search (blocks pyarrow-read in-task,
    never exchanged); the kernel collapses its shard-local
    candidates (at most one row per group value per query), and a
    two-window merge picks each group's global best then ranks them.
    Exact: a group in the global collapsed top-k has < k groups ahead
    of it inside its best doc's shard, so that shard emits it.
    Composes with where=/where_expr/mode/min_match/exclude/k1/b/fields/
    tombstones; refuses search_after (a doc-level cursor could
    resurface a page-1 group via its second-best doc).

    `_resolved` (internal) bypasses _query_weights with a pre-expanded
    occurrence map — the prefix-search entry point resolves wildcard
    tokens against the vocabulary and delegates everything else here.
    """
    from .xxhash64 import spark_pmod_bucket

    if strategy not in ("sharded", "blockmax"):
        raise ValueError(
            f"strategy must be 'sharded' or 'blockmax', got {strategy!r}"
        )
    tomb = ix.tombstones_pair() if ix.n_deleted() else None
    eff_k1 = ix.k1 if k1 is None else float(k1)
    eff_b = ix.b if b is None else float(b)
    # range-validate the shape parameters: b > 1 makes the tf_norm
    # denominator zero/negative for short docs (inf / negative
    # contributions), silently violating the kernels' strictly-positive-
    # contribution assumption instead of failing loudly
    if not (eff_k1 >= 0.0):
        raise ValueError(f"k1 must be >= 0, got {eff_k1}")
    if not (0.0 <= eff_b <= 1.0):
        raise ValueError(f"b must be in [0, 1], got {eff_b}")
    fw = None
    eff_avgdl = ix.avgdl
    if fields is not None:
        # positional-split BM25F: (title_tokens, w_title, w_body). The
        # kernels derive per-field tf from the positions stream, so the
        # index must store positions; split and weights are query-time.
        split, w_t, w_b = fields
        if not (isinstance(split, int) and split >= 1):
            raise ValueError(
                f"fields title_tokens must be an int >= 1, got {split!r}"
            )
        if not (w_t > 0.0 and w_b > 0.0):
            # zero/negative field weights break the kernels' strictly-
            # positive-contribution assumption (and idf still counts the
            # suppressed field's matches — not "field deletion")
            raise ValueError(
                f"field weights must be > 0, got ({w_t}, {w_b})"
            )
        if not ix.store_positions:
            raise ValueError(
                "field-weighted search derives per-field tf from the "
                "positions stream; rebuild the index with "
                "BuildParams(store_positions=True) — or use the "
                "corpus-scan path (bm25f.bm25f_score_topk)"
            )
        fw = (int(split), float(w_t), float(w_b))
        eff_avgdl = ix.bm25f_avgdl(*fw)
    spark = ix.spark
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if _resolved is not None:
        occ = _resolved
        if mode == "and":
            raise ValueError(
                "mode='and' does not compose with prefix expansion "
                "(coverage over expanded synonym sets is undefined)"
            )
    else:
        occ = _query_weights(ix, queries)
    and_need: dict[int, int] | None = None
    if mode == "and":
        # required count = the query's distinct TOKENS (vocabulary
        # membership included: a token absent from the whole corpus makes
        # the conjunction unsatisfiable, so the query drops here instead
        # of shipping to kernels that can never match it)
        # dup-qid merge contract: copies of a qid merge their token sets
        # (occ is already merged), so the coverage requirement is the
        # UNION of the copies' distinct tokens — comparing per-copy sets
        # against the merged occ would silently empty dup-qid queries
        need_toks: dict[int, set[str]] = {}
        for qid, qtext in queries:
            need_toks.setdefault(qid, set()).update(tokenize_py(qtext))
        and_need = {}
        for qid, toks in need_toks.items():
            if not toks or qid not in occ:
                continue
            if len({t for t, _ in occ[qid]}) == len(toks):
                and_need[qid] = len(toks)
            else:
                del occ[qid]
    if min_match is not None:
        if mode == "and":
            raise ValueError(
                "min_match composes with mode='or' only (mode='and' is "
                "already full coverage)"
            )
        if _resolved is not None:
            raise ValueError(
                "min_match does not compose with prefix expansion "
                "(coverage over expanded synonym sets is undefined)"
            )
        if not isinstance(min_match, int) or min_match < 1:
            raise ValueError(
                f"min_match must be an int >= 1, got {min_match!r}"
            )
        if min_match > 1:  # 1 is plain OR
            and_need = {}
            for qid in list(occ):
                if len({t for t, _ in occ[qid]}) >= min_match:
                    and_need[qid] = min_match
                else:
                    # fewer corpus-present distinct tokens than required:
                    # unsatisfiable, drop driver-side (mirrors the SQL
                    # oracle, where no doc can reach the HAVING threshold)
                    del occ[qid]
    excl_map: dict[int, list[str]] | None = None
    if exclude:
        ex_tokens = {qid: tokenize_py(txt) for qid, txt in exclude.items()}
        # user-typed exact tokens that are both scored and excluded make
        # the query always-empty — an error worth raising. In _resolved
        # (prefix) mode occ holds vocabulary EXPANSIONS, and "w07* minus
        # w0777" is a legitimate query: exclusion simply drops every doc
        # containing the token (its scoring occurrence only ever lands on
        # docs that are dropped), so no check there.
        if _resolved is None:
            for qid, toks in ex_tokens.items():
                if qid in occ:
                    ov = {t for t, _ in occ[qid]} & set(toks)
                    if ov:
                        raise ValueError(
                            f"query {qid} both scores and excludes "
                            f"{sorted(ov)} — always empty by construction"
                        )
        all_ex = sorted({t for toks in ex_tokens.values() for t in toks})
        if all_ex:
            # vocabulary membership only: a corpus-absent excluded token
            # excludes nothing (no postings to match)
            stats_ex = ix.term_stats_lookup(all_ex)
            excl_map = {}
            for qid, toks in ex_tokens.items():
                if qid not in occ:
                    continue
                present_ex = sorted({t for t in toks if t in stats_ex})
                if present_ex:
                    excl_map[qid] = present_ex
            if not excl_map:
                excl_map = None
    if search_after:
        for qid, cur in search_after.items():
            if (
                not isinstance(cur, tuple) or len(cur) != 2
                or not isinstance(cur[0], float)
                or isinstance(cur[1], bool) or not isinstance(cur[1], int)
            ):
                raise ValueError(
                    "search_after cursors must be (score: float, "
                    f"doc_id: int) pairs; query {qid} has {cur!r}"
                )
    if collapse is not None:
        if search_after:
            raise ValueError(
                "search_after does not compose with collapse: a doc-"
                "level cursor mask could resurface a page-1 group via "
                "its second-best doc"
            )
        ds_cols = ix.live_doc_stats().columns
        if collapse not in ds_cols:
            raise ValueError(
                f"attribute {collapse!r} not stored in this index's "
                f"doc_stats (build with BuildParams(attr_cols=...)); "
                f"stored columns: {sorted(ds_cols)}"
            )
    out_schema = (
        "query_id int, rank int, doc_id long, score double"
        + (", value string" if collapse is not None else "")
    )
    if not occ:
        return local_df(spark, [], out_schema)
    # the block fetch widens scoring terms with MUST-NOT terms (their
    # blocks ride the same read, presence-only)
    terms = sorted(
        {t for tw in occ.values() for t, _ in tw}
        | ({t for ts in excl_map.values() for t in ts} if excl_map else set())
    )
    buckets = sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in terms}
    )
    fm = ix.shard_file_map(buckets)  # refuses posting layout < 3
    if not fm:
        return local_df(spark, [], out_schema)
    cols = ["term", "n_docs", "docs_vbyte", "tfs_vbyte"]
    if fw is not None:
        cols.append("pos_vbyte")
    # collapse values ride the side frame exactly like qualifying ids
    side = bool(where) or where_expr is not None or collapse is not None
    kern = _sharded_topk_fn(
        occ, eff_k1, eff_b, eff_avgdl, k, side=side, tombstones=tomb,
        and_need=and_need, exclude=excl_map, fieldw=fw,
        after=search_after, collapse=collapse is not None,
    )
    if not side:
        return _direct_search(ix, kern, cols, terms, fm, tomb, occ, k)
    # SIDE-DIRECT: only the side frame is grouped by shard; each group
    # pyarrow-reads its shard's blocks in-task (_direct_side_fn)
    val_cols = (
        [F.col(collapse).cast("string").alias("value")]
        if collapse is not None else []
    )
    side_df = filtered_live_stats(ix, where, where_expr).select(
        "doc_id",
        F.shiftright("doc_id", ix.shard_shift).alias("shard_id"),
        *val_cols,
    )
    shard_tops = side_df.groupBy("shard_id").applyInPandas(
        _direct_side_fn(kern, cols, terms, fm, need_gseq=tomb is not None,
                        norm_map=ix.norm_file_map()),
        schema=(
            "query_id int, doc_id long, score double"
            + (", value string" if collapse is not None else "")
        ),
    )
    if collapse is not None:
        return _collapse_window(shard_tops, k)
    return topk_window(shard_tops, k)
