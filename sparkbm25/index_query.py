"""Top-k BM25 over the prebuilt compressed index — EXACT, optionally
block-max pruned.

The reference's search entry point loads a serialized index and answers
top-k per query (benchmarking/search/search_indices.py:13-55). Ours is a
per-shard index probe: posting layout 2 clusters each term bucket's
files by doc-range shard (Index.shard_file_map), so a kernel reads
exactly its shard's blocks with pyarrow, scores every query of the
batch in numpy and emits its local top-k. A doc lives in one shard, so
per-shard scoring is exact, and results are rank-identical to the
pure-Python OracleIndex (the reference only promises recall; the north
rule demands identity, so any pruning here is *sound*, not
approximate).

Two plans serve every query shape:

direct       one ``spark.range`` work item per shard feeds the kernel
             (mapInPandas); the only exchange is the tiny per-shard
             top-k merge. A few queries over a bounded posting volume
             run the same kernel in the driver (_local_search).
side-direct  when the kernel needs a side frame — `where=` qualifying
             ids, collapse values, or tombstones past
             TOMBSTONE_BROADCAST_MAX — only that frame is grouped by
             shard, and each group reads its shard's blocks in-task
             (_direct_side_fn). Posting blocks never cross an exchange.

Kernels: the densified exact fold (_sharded_topk_fn), its interval-level
block-max pruning (_interval_prune, strategy='blockmax'), and the
per-block WAND kernel (_wand_topk_fn) for the exclude/field-weighted
shapes the interval pruner refuses.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .analysis import parse_prefix_query, tokenize_py
from .bm25 import idf as idf_fn
from .codecs import (
    delta_decode,
    in_sorted as _in_sorted,
    segment_delta_restore,
    vbyte_decode,
)
from .jobs import Index
from .localrel import local_df
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
            (t, idf_fn(stats[t][0], ix.n_docs))
            for t in ts
            if t in stats  # absent term contributes nothing (oracle skips)
        ]
        if present:
            occ[qid] = present
    return occ


_PRUNE_EPS = 1e-9


def _decode_tfn(pdf: pd.DataFrame, k1: float, b: float, avgdl: float,
                tomb: "tuple | None" = None,
                qual: "np.ndarray | None" = None,
                ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Decode a (sub)frame of posting blocks into {term: (doc_ids,
    tf_norm)} — the prune-refinement SEED decode. Same vbyte/delta
    layout and tf_norm formula as the main kernel's batched decode.

    ``tomb`` / ``qual`` apply the kernel's EXACT masks (per-group
    tombstones via the frame's gseq column; sorted qualifying ids) so
    every surviving seed doc is a REAL eligible candidate — required
    for the theta bound to stay sound under deletes / filtered search
    (an unmasked seed could certify theta from a dead or non-qualifying
    doc's score, overstating the kth eligible score)."""
    pdf = pdf.sort_values("term", kind="stable", ignore_index=True)
    terms_arr = pdf["term"].to_numpy()
    n_arr = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_arr.sum())
    if total == 0:
        return {}
    seg_starts = np.zeros(len(n_arr), dtype=np.int64)
    seg_starts[1:] = np.cumsum(n_arr)[:-1]
    gaps = vbyte_decode(b"".join(pdf["docs_vbyte"]), total)
    all_ids = segment_delta_restore(gaps, seg_starts, n_arr)
    tfs = vbyte_decode(b"".join(pdf["tfs_vbyte"]), total).astype(np.float64)
    dls = vbyte_decode(b"".join(pdf["dls_vbyte"]), total).astype(np.float64)
    tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    m = None
    if tomb is not None and len(tomb[0]):
        from .codecs import dead_mask as _dead_mask

        gseqs = np.repeat(pdf["gseq"].to_numpy(np.int64), n_arr)
        m = ~_dead_mask(all_ids, gseqs, tomb[0], tomb[1])
    if qual is not None:
        mq = _in_sorted(all_ids, qual)
        m = mq if m is None else (m & mq)
    blk_change = np.r_[True, terms_arr[1:] != terms_arr[:-1]]
    term_first = np.flatnonzero(blk_change)
    post_off = np.r_[seg_starts[term_first], total]
    raw: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for i, tb in enumerate(term_first):
        lo, hi = int(post_off[i]), int(post_off[i + 1])
        if hi > lo:
            ids_s, tfn_s = all_ids[lo:hi], tfn[lo:hi]
            if m is not None:
                ms = m[lo:hi]
                ids_s, tfn_s = ids_s[ms], tfn_s[ms]
            if len(ids_s):
                raw[terms_arr[tb]] = (ids_s, tfn_s)
    return raw


def _interval_prune(pdf: pd.DataFrame,
                    q_terms: dict[int, list[tuple[str, float]]],
                    k1: float, b: float, avgdl: float, k: int,
                    mode: str,
                    and_need: dict[int, int] | None = None,
                    tomb: "tuple | None" = None,
                    qual: "np.ndarray | None" = None):
    """Interval-level block-max pruning for the DENSE kernel (the
    round-6 answer to BENCH_BOOL_AB.json: the per-block WAND kernel's
    Python call overhead loses to dense scoring even when its bounds
    could pay, so run the bounds analysis VECTORIZED over doc-range
    INTERVALS and feed the surviving blocks to the unchanged densified
    fold — pruned search that degrades to dense-kernel speed, never
    below it, when the data gives the bounds nothing to exclude).

    The block-max idea is Ding & Suel's (SIGIR'11); the interval
    formulation makes it batch-friendly:

    - intervals: the merged doc-id ranges cut at every block's
      [first_doc, last_doc+1) boundary across the group's query terms.
    - per term t: M_t[i] = max upper-bound tf_norm over t's blocks
      overlapping interval i (a per-block slice-max sweep — once per
      BATCH, not per query).
    - per query q: θ_q from the same metadata-only bootstrap as the
      WAND kernel ("k docs provably score >= θ": some block of one
      occurrence term holds >= k postings each with lower bound L);
      bound vector B_q[i] = Σ over q's occurrences (t, w) of w*M_t[i];
      live_q = B_q >= θ_q - |θ_q|·EPS.
    - decode only blocks overlapping the live-interval UNION of the
      queries that use the block's term (an all-live query must not
      resurrect dead blocks of terms it never references); mask each
      query's final candidates to its own live intervals.

    Exactness: a doc d in a q-dead interval i has true q-score
    <= B_q[i] < θ_q - |θ_q|·EPS < θ_q <= true kth score, so it can
    neither enter q's top-k nor tie its boundary. A doc in a q-live
    interval keeps EVERY contribution: each of its blocks overlaps its
    (live) interval and is therefore decoded, and the densified fold
    adds kept docs' contributions in the identical qpos order — scores
    bit-equal to the unpruned kernel.

    ``and_need`` ({qid: required distinct matched-term count}) makes
    the analysis CONJUNCTIVE-AWARE for those queries (mode='and' /
    min_match):

    - coverage liveness: an interval where fewer than ``need`` distinct
      query terms have ANY overlapping block cannot hold an eligible
      doc (a doc's posting for t lies inside one of t's blocks), so it
      is dead regardless of θ;
    - θ bootstrap: the metadata-only single-term phase is SKIPPED (its
      k counted docs may not be eligible — θ would overstate the kth
      ELIGIBLE score); the seed refinement counts per-doc DECODED
      distinct-term coverage and takes the kth-largest decoded score
      among PROVABLY eligible docs (decoded coverage >= need implies
      true coverage >= need; the decoded score is still an
      underestimate), which lower-bounds the true kth eligible score;
    - exactness: a doc in a q-live interval keeps every contribution
      AND its full coverage count (every term the query uses has all
      its blocks overlapping that live interval decoded), so the
      kernel's coverage test and fold are bit-exact there; q-dead
      intervals are masked only after the coverage selection.

    ``tomb`` / ``qual`` (the kernel's exact tombstone pair / sorted
    qualifying ids) compose soundly: block upper bounds stay valid (a
    superset bound), the metadata-only θ phase is SKIPPED (its counted
    docs may be dead or non-qualifying), and the seed decode applies
    the SAME masks the main decode will (``_decode_tfn(tomb=, qual=)``)
    so every θ-certifying doc is a real eligible candidate. The live
    mask applies after the kernel's own masking, so surviving docs are
    bit-exact as in the clean shape.

    Returns None when nothing is excludable (the caller then runs the
    plain dense path with zero per-query overhead), else
    (keep_rows boolean mask over pdf rows, interval bounds array,
    {qid: live boolean vector} for queries with >= 1 dead interval).
    """
    from .bm25 import tf_norm_np

    firsts = pdf["first_doc"].to_numpy(dtype=np.int64)
    lasts = pdf["last_doc"].to_numpy(dtype=np.int64)
    if mode == "derived":
        maxt = tf_norm_np(pdf["max_tf"].to_numpy(dtype=np.int64),
                          pdf["min_dl"].to_numpy(dtype=np.int64),
                          avgdl, k1, b)
        mint = tf_norm_np(pdf["min_tf"].to_numpy(dtype=np.int64),
                          pdf["max_dl"].to_numpy(dtype=np.int64),
                          avgdl, k1, b)
    else:
        maxt = pdf["max_tf_norm"].to_numpy(dtype=np.float64)
        mint = pdf["min_tf_norm"].to_numpy(dtype=np.float64)
    n_arr = pdf["n_docs"].to_numpy(dtype=np.int64)
    terms_arr = pdf["term"].to_numpy()
    bounds = np.unique(np.concatenate([firsts, lasts + 1]))
    n_int = len(bounds) - 1
    if n_int < 1:
        return None
    lo = np.searchsorted(bounds, firsts, side="right") - 1
    hi = np.searchsorted(bounds, lasts + 1, side="left")
    # per-term interval max-ub staircase (once per batch)
    blk_of: dict[str, np.ndarray] = {}
    M: dict[str, np.ndarray] = {}
    for t in {t for tw in q_terms.values() for t, _w in tw}:
        idx = np.flatnonzero(terms_arr == t)
        if not len(idx):
            continue
        blk_of[t] = idx
        m = np.zeros(n_int)
        for j in idx:
            np.maximum(m[lo[j]:hi[j]], maxt[j], out=m[lo[j]:hi[j]])
        M[t] = m
    if not M:
        return None
    # phase 1 — metadata-only theta per query ("k docs provably score
    # >= theta": a prefix of ONE term's blocks, ordered by lower bound
    # desc, holds >= k postings)
    theta_of: dict[int, float] = {}
    present_of: dict[int, list[tuple[str, float]]] = {}
    need_of: dict[int, int] = {}
    for qid, tw in q_terms.items():
        present = [(t, w) for t, w in tw if t in M]
        if not present:
            continue
        present_of[qid] = present
        need_of[qid] = (and_need or {}).get(qid, 1)
        theta = 0.0
        masked = (tomb is not None and len(tomb[0]) > 0) or qual is not None
        if need_of[qid] <= 1 and not masked:
            # metadata bootstrap is OR-only: for a conjunctive query its
            # k counted docs may not be eligible (theta would overstate
            # the kth ELIGIBLE score) — those queries get theta from the
            # coverage-aware seed phase below, or coverage-only liveness
            for t, w in present:
                idx = blk_of[t]
                L, nn = w * mint[idx], n_arr[idx]
                order = np.argsort(-L, kind="stable")
                cum = np.cumsum(nn[order])
                hit = np.flatnonzero(cum >= k)
                if len(hit):
                    theta = max(theta, float(L[order[hit[0]]]))
        theta_of[qid] = theta
    if not present_of:
        return None
    # phase 2 — SEED refinement (two-phase block-max): the metadata
    # bootstrap certifies only ONE term's contribution, so for
    # multi-term queries theta sits far below the true kth score and
    # excludes little. Decode each query term's highest-upper-bound
    # blocks once (a bounded seed), accumulate each query's scores over
    # the decoded postings, and take the kth-largest as theta'.
    # Soundness: every decoded candidate is a real doc and its
    # accumulated score omits at most some of its own contributions
    # (an UNDERestimate), and a subset's kth order statistic never
    # exceeds the full set's — so theta' <= the true kth score.
    # Accumulation order may differ from the final fold by ~ulp; the
    # relative _PRUNE_EPS margin on the live test absorbs that.
    # seed-worthiness gate (pure COST heuristic — skipping a seed only
    # leaves theta at its looser metadata/zero value, never unsound):
    # even a PERFECT theta (<= true kth <= max interval bound) can only
    # kill intervals whose bound sits below it, so when a query's bound
    # staircase is flat the seed decode is guaranteed wasted work —
    # exactly the prune-hostile shape, where the masked seed cost was
    # the measured 16% overhead vs the dense kernel (BENCH_PRUNE_AB)
    B_of: dict[int, np.ndarray] = {}
    seed_qids = set()
    for qid, present in present_of.items():
        B = np.zeros(n_int)
        for t, w in present:
            B += w * M[t]
        B_of[qid] = B
        bmx = float(B.max())
        if bmx > 0.0 and float(B.min()) < 0.5 * bmx:
            seed_qids.add(qid)
    if "docs_vbyte" in pdf.columns and seed_qids:
        seed_rows = np.zeros(len(pdf), dtype=bool)
        for qid in seed_qids:
            for t, _w in present_of[qid]:
                idx = blk_of[t]
                order = np.argsort(-maxt[idx], kind="stable")
                cum = np.cumsum(n_arr[idx][order])
                take = int(np.searchsorted(cum, 4 * k)) + 1
                seed_rows[idx[order[:take]]] = True
        n_seed = int(n_arr[seed_rows].sum())
        if 0 < n_seed <= max(0.25 * float(n_arr.sum()), 64.0 * k):
            raw = _decode_tfn(pdf[seed_rows], k1, b, avgdl,
                              tomb=tomb, qual=qual)
            if raw:
                for qid in seed_qids:
                    present = present_of[qid]
                    parts = [
                        (raw[t][0], w, raw[t][1])
                        for t, w in present if t in raw
                    ]
                    if not parts:
                        continue
                    # per-term seed ids are unique but NOT sorted across
                    # blocks (lineage groups interleave doc ranges)
                    ids_c = (
                        np.sort(parts[0][0]) if len(parts) == 1
                        else np.unique(
                            np.concatenate([p[0] for p in parts])
                        )
                    )
                    if len(ids_c) < k:
                        continue
                    sc = np.zeros(len(ids_c))
                    for pids, w, ptfn in parts:
                        sc[np.searchsorted(ids_c, pids)] += w * ptfn
                    need = need_of[qid]
                    if need > 1:
                        # conjunctive: only docs whose DECODED distinct-
                        # term coverage already proves eligibility may
                        # certify theta (true coverage >= decoded)
                        cov = np.zeros(len(ids_c), dtype=np.int32)
                        for t in {t for t, _w in present}:
                            got = raw.get(t)
                            if got is not None:
                                cov[np.searchsorted(ids_c, got[0])] += 1
                        elig = cov >= need
                        if int(elig.sum()) < k:
                            continue
                        sc = sc[elig]
                    th2 = float(-np.partition(-sc, k - 1)[k - 1])
                    if th2 > theta_of[qid]:
                        theta_of[qid] = th2
    # phase 3 — live intervals per query under the refined theta
    live_of: dict[int, np.ndarray] = {}
    # per-TERM live union: a block needs decoding only where some query
    # USING ITS TERM is live — an all-live query must not resurrect the
    # dead blocks of terms it never references
    term_live: dict[str, np.ndarray | None] = {}  # None = live everywhere
    any_dead = False
    for qid, present in present_of.items():
        theta = theta_of[qid]
        need = need_of[qid]
        cov_ok: np.ndarray | None = None
        if need > 1:
            tset = {t for t, _w in present}
            if len(tset) < need:
                # too few group-present terms: no doc here can cover —
                # every interval is dead for this query (its terms join
                # the union as all-dead, so blocks used by no other
                # query are dropped)
                live = np.zeros(n_int, dtype=bool)
                any_dead = True
                live_of[qid] = live
                for t, _w in present:
                    if term_live.get(t, ...) is ...:
                        term_live[t] = live.copy()
                continue
            # interval coverage: a doc in interval i can match at most
            # the distinct terms with >= 1 block overlapping i
            C = np.zeros(n_int, dtype=np.int32)
            for t in tset:
                C += (M[t] > 0.0)
            cov_ok = C >= need
        if theta <= 0.0 and (cov_ok is None or cov_ok.all()):
            for t, _w in present:
                term_live[t] = None
            continue
        if theta > 0.0:
            B = B_of[qid]
            live = B >= theta - abs(theta) * _PRUNE_EPS
            if cov_ok is not None:
                live = live & cov_ok
        else:
            live = cov_ok
        if live.all():
            for t, _w in present:
                term_live[t] = None
            continue
        any_dead = True
        live_of[qid] = live
        for t, _w in present:
            prev = term_live.get(t, ...)
            if prev is ...:
                term_live[t] = live.copy()
            elif prev is not None:
                prev |= live
    if not any_dead:
        return None
    # decode only blocks overlapping their term's live-union region
    keep_rows = np.ones(len(pdf), dtype=bool)
    for t, lv in term_live.items():
        if lv is None:
            continue
        c = np.zeros(n_int + 1, dtype=np.int64)
        np.cumsum(lv, out=c[1:])
        idx = blk_of[t]
        keep_rows[idx] = (c[hi[idx]] - c[lo[idx]]) > 0
    return keep_rows, bounds, live_of


def _sharded_topk_fn(q_terms: dict[int, list[tuple[str, float]]],
                     k1: float, b: float, avgdl: float, k: int,
                     side: bool = False,
                     has_qual: bool = False,
                     tombstones: "tuple | None" = None,
                     and_need: dict[int, int] | None = None,
                     exclude: dict[int, list[str]] | None = None,
                     fieldw: tuple | None = None,
                     prune_bounds: str | None = None,
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

    Masking inputs (all optional, composable):
    - ``tombstones`` — closure-shipped (sorted ids, per-id max del_seq)
      pair for SMALL delete sets; per-group deadness via codecs.dead_mask
      with the block's ``gseq`` column.
    - ``side`` — the kernel takes ``(blocks, side)`` frames, the side
      being this shard's rows of (doc_id, kind, seq): kind=0 rows are
      `where=` qualifying ids (active when ``has_qual``), kind=1 rows are
      DISTRIBUTED tombstones (the no-driver-array path for large delete
      sets; they override the closure pair, index_search routes one
      source at a time), kind=2 rows are shard anchors (_parse_side).

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

    ``prune_bounds`` ('derived' | 'stored') activates interval-level
    block-max pruning (see _interval_prune): blocks provably unable to
    affect any query's top-k are skipped BEFORE the batched decode, and
    each query's candidates are masked to its own live doc-range
    intervals. Exact (scores of surviving docs are the bitwise-unchanged
    dense fold); requires the blockmax metadata columns in the group and
    composes with ``and_need`` (conjunctive queries get coverage
    liveness + a coverage-aware seed theta; the live mask applies AFTER
    the coverage selection, so surviving docs keep exact counts and
    scores) and with the tombstone / qualifying masks — the caller
    routes excluded and field-weighted shapes to the WAND kernel
    instead (their bootstrap needs decode-time masking).

    ``after`` ({query_id: (score, doc_id) cursor}) activates
    SEARCH-AFTER pagination: only candidates STRICTLY after the cursor
    in the result total order (score DESC, doc_id ASC) survive —
    ``score < s  OR  (score == s AND doc_id > d)``. The mask runs on
    the folded scores BEFORE local top-k extraction, so each shard's
    k survivors are the true after-cursor leaders (OpenSearch
    search_after semantics; the float equality is sound because the
    cursor comes from this engine's own bit-exact scores).

    ``collapse`` activates FIELD COLLAPSING (OpenSearch `collapse`):
    the side's kind=0 rows carry a ``value`` column (the stored
    attribute of every eligible doc — they double as the qualifying
    set, so ``collapse`` implies ``side`` + ``has_qual``); after each
    query's fold, candidates sort by the total order (score DESC,
    doc_id ASC) and only the FIRST doc per
    distinct value survives (NULL is one group), up to k — each group
    emits at most k rows per query, one per collapse group, and the
    output gains a ``value`` column. Scores are the unchanged dense
    fold; per-group emission of the local collapsed top-k is globally
    exact (a group in the global collapsed top-k has < k groups ahead
    of it inside its best doc's shard — any group ahead there is ahead
    globally too, its global best being >= its shard-local best)."""
    if collapse and not (side and has_qual):
        raise ValueError("collapse requires the side frame "
                         "(attribute rows double as qualifying ids)")
    if collapse and after:
        raise ValueError(
            "search_after does not compose with collapse: a doc-level "
            "cursor mask could resurface a page-1 group via its "
            "second-best doc"
        )
    if prune_bounds is not None and (
        exclude or fieldw is not None or after
    ):
        # exclusion: a partial decode cannot PROVE a doc does not
        # contain a MUST_NOT term, so a seed theta could count
        # ineligible docs; field weights: the bounds need the
        # positional split; cursors: theta counts pre-cursor docs.
        # (tombstones / where= DO compose: the kernel holds their exact
        # masks and the seed decode applies them — _interval_prune doc.)
        raise ValueError(
            "prune_bounds does not compose with exclude / field weights "
            "/ search_after; route those to the WAND or dense kernel"
        )

    def _run(pdf: pd.DataFrame,
             qual: np.ndarray | None,
             tomb: "tuple | None",
             sidev: "tuple | None" = None) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int32"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
                **(
                    {"value": pd.Series(dtype="object")} if collapse else {}
                ),
            }
        )
        w_of: dict[str, float] = {
            t: w for tw in q_terms.values() for t, w in tw
        }
        live_of: dict[int, np.ndarray] = {}
        int_bounds: np.ndarray | None = None
        if prune_bounds is not None and len(pdf):
            pruned = _interval_prune(
                pdf, q_terms, k1, b, avgdl, k, prune_bounds,
                and_need=and_need, tomb=tomb, qual=qual,
            )
            if pruned is not None:
                keep_rows, int_bounds, live_of = pruned
                if not keep_rows.all():
                    pdf = pdf[keep_rows]
                if not len(pdf):
                    return empty
        # BATCHED decode: varbyte streams are self-delimiting, so the whole
        # group's blocks decode in THREE numpy passes (docs via
        # segment_delta_restore with per-block segment starts — each
        # block's first doc id is absolute) instead of 3 calls per block;
        # per-call numpy overhead on ~128-value blocks dominated kernel
        # time (measured 0.48 s of a 0.74 s group).
        pdf = pdf.sort_values("term", kind="stable", ignore_index=True)
        terms_arr = pdf["term"].to_numpy()
        n_arr = pdf["n_docs"].to_numpy().astype(np.int64)
        total = int(n_arr.sum())
        if total == 0:
            return empty
        seg_starts = np.zeros(len(n_arr), dtype=np.int64)
        seg_starts[1:] = np.cumsum(n_arr)[:-1]
        gaps = vbyte_decode(b"".join(pdf["docs_vbyte"]), total)
        all_ids = segment_delta_restore(gaps, seg_starts, n_arr)
        tfs_i = vbyte_decode(b"".join(pdf["tfs_vbyte"]), total)
        dls = vbyte_decode(b"".join(pdf["dls_vbyte"]), total).astype(np.float64)
        if fieldw is not None:
            # positional-split BM25F (index_bm25f_search): per-posting
            # title tf derives from the POSITIONS stream (tf1 = tokens at
            # position < split), so field-weighted scoring serves from any
            # positional index with split AND weights as query-time
            # parameters. avgdl here is ALREADY the weighted avgdl~.
            # With integer-valued weights every weighted sum is exact in
            # f64, bit-equal to the corpus-scan path (bm25f module doc).
            split, w_t, w_b = fieldw
            tok_counts = tfs_i.astype(np.int64)
            n_tok = int(tok_counts.sum())
            pos_gaps = vbyte_decode(b"".join(pdf["pos_vbyte"]), n_tok)
            tok_starts = np.cumsum(tok_counts) - tok_counts
            pos_all = segment_delta_restore(pos_gaps, tok_starts, tok_counts)
            tf1 = np.add.reduceat(
                (pos_all < split).astype(np.int64), tok_starts
            )
            tfs = w_t * tf1 + w_b * (tok_counts - tf1)
            dls = (
                w_t * np.minimum(dls, float(split))
                + w_b * np.maximum(dls - split, 0.0)
            )
        else:
            tfs = tfs_i.astype(np.float64)
        tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        m = None
        if tomb is not None and len(tomb[0]):
            from .codecs import dead_mask as _dead_mask

            gseqs = np.repeat(pdf["gseq"].to_numpy(np.int64), n_arr)
            m = ~_dead_mask(all_ids, gseqs, tomb[0], tomb[1])
        if qual is not None:
            # `where=` filter: restrict scoring to the group's QUALIFYING
            # docs (global idf/avgdl stay untouched — standard filtered-
            # search semantics: the filter narrows candidates, not stats)
            mq = _in_sorted(all_ids, qual)
            m = mq if m is None else (m & mq)
        if m is not None:
            all_ids, tfn = all_ids[m], tfn[m]
            # remap term slice offsets onto the masked arrays
            kept_per_block = np.add.reduceat(
                m.astype(np.int64), np.r_[0, np.cumsum(n_arr)[:-1]]
            )
            n_arr = kept_per_block
            seg_starts = np.zeros(len(n_arr), dtype=np.int64)
            seg_starts[1:] = np.cumsum(n_arr)[:-1]
            total = int(n_arr.sum())
            if total == 0:
                return empty
        blk_change = np.r_[True, terms_arr[1:] != terms_arr[:-1]]
        term_first_blk = np.flatnonzero(blk_change)
        post_off = np.r_[seg_starts[term_first_blk], total]
        raw: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for i, tb in enumerate(term_first_blk):
            lo, hi = int(post_off[i]), int(post_off[i + 1])
            if hi > lo:
                raw[terms_arr[tb]] = (all_ids[lo:hi], tfn[lo:hi])
        if not raw:
            return empty
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
            return empty
        uids_g = np.unique(np.concatenate(score_ids))
        U = len(uids_g)
        # interval index of each universe doc (pruning active only):
        # one searchsorted per batch serves every query's live-mask
        u_int = (
            np.searchsorted(int_bounds, uids_g, side="right") - 1
            if live_of else None
        )
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
                live = live_of.get(qid)
                if live is not None and len(nz):
                    nz = nz[live[u_int[nz]]]
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
                live = live_of.get(qid)
                if live is not None and len(sel):
                    sel = sel[live[u_int[sel]]]
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
                sids_s, svals_s = sidev
                gv = svals_s[np.searchsorted(sids_s, ids_nz)]
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
            return empty
        out = {
            "query_id": np.concatenate(rows_q),
            "doc_id": np.concatenate(rows_d),
            "score": np.concatenate(rows_s),
        }
        if collapse:
            v_out = np.concatenate(rows_v)
            # pandas surfaces NULL attrs as NaN; emit real None so the
            # Spark string column carries NULL (one NULL collapse group,
            # matching SQL PARTITION BY)
            out["value"] = np.array(
                [None if (v is None or v != v) else v for v in v_out],
                dtype=object,
            )
        return pd.DataFrame(out)

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        return _run(pdf, None, tombstones)

    def topk_side(blocks_pdf: pd.DataFrame,
                  side_pdf: pd.DataFrame) -> pd.DataFrame:
        # side form: side_pdf carries this shard's qualifying ids
        # (kind=0) and/or distributed tombstones (kind=1)
        qual, tomb = _parse_side(side_pdf, has_qual, tombstones)
        sidev = None
        if collapse:
            kind_c = (
                side_pdf["kind"].to_numpy()
                if len(side_pdf) else np.empty(0, dtype=np.int64)
            )
            a = kind_c == 0
            sids_c = side_pdf["doc_id"].to_numpy(dtype=np.int64)[a]
            svals_c = side_pdf["value"].to_numpy()[a]
            o = np.argsort(sids_c, kind="stable")
            sidev = (sids_c[o], svals_c[o])
        return _run(blocks_pdf, qual, tomb, sidev)

    return topk_side if side else topk


def _parse_side(side_pdf: pd.DataFrame, has_qual: bool,
                closure_tomb: "tuple | None"):
    """Split a shard's side frame (the kind-tagged contract shared by
    the dense and WAND kernels) into (sorted qualifying ids | None,
    tombstone (ids, seqs) pair — distributed rows override the
    closure-shipped pair when present). kind=2 anchor rows only make
    their shard a group of the side-direct plan and are ignored here."""
    if len(side_pdf):
        kind = side_pdf["kind"].to_numpy()
        ids_side = side_pdf["doc_id"].to_numpy(dtype=np.int64, copy=True)
    else:
        kind = np.empty(0, dtype=np.int64)
        ids_side = np.empty(0, dtype=np.int64)
    qual = np.sort(ids_side[kind == 0]) if has_qual else None
    tomb = closure_tomb
    tm = kind == 1
    if tm.any():
        t_ids = ids_side[tm]
        t_seqs = side_pdf["seq"].to_numpy(dtype=np.int64)[tm]
        o = np.argsort(t_ids)
        tomb = (t_ids[o], t_seqs[o])
    return qual, tomb


def _direct_topk_gen(kernel, cols: list[str], terms: list[str],
                     fm: dict, tombstones: "tuple | None"):
    """DIRECT-plan mapInPandas body: each task reads its shard's parquet
    files straight from the index dir via pyarrow (layout 2's
    shard-clustered files) and runs the per-shard kernel on them.

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
    entries = [fm[s] for s in sorted(fm)]
    cols = list(cols)
    terms = list(terms)

    def gen(batches):
        for wpdf in batches:
            for i in wpdf["id"]:
                pdf = _read_shard_blocks(
                    entries[int(i)], cols, terms, need_gseq
                )
                if len(pdf):
                    out = kernel(pdf)
                    if len(out):
                        yield out

    return gen


def _read_shard_blocks(entry: list, cols: list[str],
                       terms: list[str], need_gseq: bool) -> pd.DataFrame:
    """pyarrow read of one shard's posting files ``entry`` ([(gseq,
    path), ...], layout-2 clustered tree) with the term filter pushed
    down to row groups (row groups are term-sorted within a bucket
    file). use_threads=False: a task must stay inside its ONE Spark core
    slot — arrow's default pool would use every host core, silently
    oversubscribing executors (and faking low-core scaling
    measurements). With ``need_gseq`` files read grouped by lineage seq
    and tagged with it, so per-group tombstone masking stays exact when
    a delete must mask only older groups."""
    import pyarrow.dataset as pads

    if not entry:
        return pd.DataFrame(
            columns=cols + (["gseq"] if need_gseq else [])
        )
    filt = pads.field("term").isin(terms)
    if need_gseq:
        by_gs: dict[int, list[str]] = {}
        for g, p in entry:
            by_gs.setdefault(int(g), []).append(p)
        parts = []
        for g, ps in sorted(by_gs.items()):
            part = (
                pads.dataset(ps, format="parquet")
                .to_table(columns=cols, filter=filt, use_threads=False)
                .to_pandas()
            )
            part["gseq"] = np.int64(g)
            parts.append(part)
        return (
            parts[0] if len(parts) == 1
            else pd.concat(parts, ignore_index=True)
        )
    return (
        pads.dataset([p for _, p in entry], format="parquet")
        .to_table(columns=cols, filter=filt, use_threads=False)
        .to_pandas()
    )


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
                    file_map: dict, need_gseq: bool):
    """SIDE-DIRECT plan body (r06): applyInPandas over the SIDE frame
    alone — qualifying ids / facet attribute rows / distributed
    tombstones / shard anchors, grouped by shard — with each group's
    posting blocks pyarrow-read IN-TASK from the shard-clustered layout.
    The blocks never cross an exchange; only the small side does. This
    is how `where=` filtered search, collapse, distributed tombstones
    and the match-set aggregations consume the direct layout; the
    kernel takes ``(blocks, side)`` frames.

    Validity: every group key is a WHOLE shard (the side is keyed by
    shard_shift), and a shard absent from the side is skipped. That is
    exact when the side lists every qualifying / countable doc; a side
    of tombstones alone carries one kind=2 anchor row per shard instead
    (index_search). ``file_map`` is the tiny driver-side {shard_id:
    [(gseq, path), ...]} listing (n_shards entries of strings —
    closure-shipped like the query terms)."""

    def fn(key: tuple, side_pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _read_shard_blocks(
            file_map.get(int(key[0]), []), cols, terms, need_gseq
        )
        return kernel_side(pdf, side_pdf)

    return fn


def _direct_search(ix: Index, kernel, cols: list[str], terms: list[str],
                   fm: dict, tomb: "tuple | None", occ: dict,
                   k: int) -> DataFrame:
    """The direct plan: one ``spark.range`` work item per shard feeding
    the pyarrow-reading kernel (_direct_topk_gen), then the global top-k
    window — exactly ONE exchange in the whole plan (the tiny per-shard
    top-k merge)."""
    if _local_serve_ok(ix, occ, terms):
        # POINT-QUERY fast path (r07): for a few queries over a bounded
        # posting volume, run the SAME per-shard kernel in the driver
        # process — pyarrow block reads + numpy fold, zero Spark jobs.
        # A single-query search through any distributed route pays a
        # near-fixed ~0.6 s of task launch + Python-runner round trip
        # (r06 floor analysis: a TRIVIAL 32-task mapInPandas + window
        # costs 0.686 s on the bench host); the reference's query model
        # is an in-process index probe (search_indices.py:30-39), and
        # the vocabulary stats and shard file map are already
        # driver-resident. Bit-exact: same kernel closure, and the
        # global merge reimplements topk_window's exact total order
        # (score DESC, doc_id ASC). Size-guarded: falls through to the
        # distributed plan when the query set or its posting volume
        # exceeds the driver budget.
        return _local_search(ix.spark, kernel, cols, terms, fm, tomb, k, ix)
    tops = ix.spark.range(len(fm), numPartitions=len(fm)).mapInPandas(
        _direct_topk_gen(kernel, cols, terms, fm, tomb),
        schema="query_id int, doc_id long, score double",
    )
    return topk_window(tops, k)


# driver-side serve limits for the point-query fast path: at most this
# many queries, and at most this many postings across the fetched terms
# (driver decode memory ~= 3 int64 arrays over the postings ~ 24 B each).
# Env-tunable; 0 queries disables the path outright.
LOCAL_SEARCH_MAX_QUERIES = int(
    os.environ.get("SPARKBM25_LOCAL_SEARCH_MAX_QUERIES", "4")
)
LOCAL_SEARCH_MAX_POSTINGS = int(
    os.environ.get("SPARKBM25_LOCAL_SEARCH_MAX_POSTINGS", "8000000")
)
# parquet footers the point path keeps per Index handle (LRU, so driver
# memory stays bounded however many files an artifact grows to); an
# artifact with at most this many files is warmed whole on first use.
LOCAL_SEARCH_FOOTER_WARM_MAX_FILES = int(
    os.environ.get("SPARKBM25_LOCAL_FOOTER_WARM_MAX_FILES", "4096")
)


class _FooterCache:
    """LRU map of parquet path -> FileMetaData holding at most ``cap``
    entries: ``Index._pq_meta``. Locked, because the shard reads (and
    the warm pass) run on a thread pool."""

    def __init__(self, cap: int):
        self.cap = cap
        self.warmed = False
        self._lock = threading.Lock()
        self._d: OrderedDict = OrderedDict()

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)

    def get(self, path: str):
        with self._lock:
            md = self._d.get(path)
            if md is not None:
                self._d.move_to_end(path)
            return md

    def put(self, path: str, md) -> None:
        with self._lock:
            self._d[path] = md
            self._d.move_to_end(path)
            while len(self._d) > self.cap:
                self._d.popitem(last=False)


def _local_serve_ok(ix: Index, occ: dict, terms: list[str]) -> bool:
    """True when the query set is small enough to serve in-process: few
    queries AND a bounded total posting volume (df is driver-resident via
    the term-stats cache, so this check launches no job)."""
    if len(occ) == 0 or len(occ) > LOCAL_SEARCH_MAX_QUERIES:
        return False
    stats = ix.term_stats_lookup(terms)
    total = sum(v[0] for v in stats.values())
    return total <= LOCAL_SEARCH_MAX_POSTINGS


def _read_blocks_meta_cached(entry: list, cols: list[str],
                             terms: list[str], need_gseq: bool,
                             meta_cache: _FooterCache) -> pd.DataFrame:
    """Driver-side block read with per-path parquet FOOTER caching: the
    footer parse dominated the per-file read cost on the point-query path
    (~2-3 ms x ~100 files per call), and the artifact is immutable for a
    handle's lifetime (same contract as Index._bucket_files /
    _stats_cache; Index.refresh() clears this cache too). Row groups are
    pre-selected with the cached term min/max stats, then rows filtered
    to the exact term set — identical rows, in the same file order, as
    the pads.dataset(filter=isin) read the executor kernels use."""
    import bisect

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tset = sorted(terms)
    term_arr = pa.array(tset)
    parts = []
    gseq_vals = []
    for gseq, path in entry:
        md = meta_cache.get(path)
        if md is None:
            md = pq.read_metadata(path)
            meta_cache.put(path, md)
        term_ix = md.schema.names.index("term")
        rgs = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(term_ix).statistics
            if st is None or not st.has_min_max:
                rgs.append(i)
                continue
            # any query term inside [min, max]?
            j = bisect.bisect_left(tset, st.min)
            if j < len(tset) and tset[j] <= st.max:
                rgs.append(i)
        if not rgs:
            continue
        with pq.ParquetFile(path, metadata=md) as pf:
            tbl = pf.read_row_groups(rgs, columns=cols, use_threads=False)
        mask = pc.is_in(tbl["term"], value_set=term_arr)
        tbl = tbl.filter(mask)
        if tbl.num_rows:
            parts.append(tbl.to_pandas())
            gseq_vals.append(int(gseq))
    if not parts:
        return pd.DataFrame(columns=cols + (["gseq"] if need_gseq else []))
    if need_gseq:
        for p, g in zip(parts, gseq_vals):
            p["gseq"] = np.int64(g)
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)


def _local_search(spark, kernel, cols: list[str], terms: list[str],
                  fm: dict, tomb: "tuple | None", k: int,
                  ix: Index) -> DataFrame:
    """Driver-side execution of the direct route: read each shard's block
    files with pyarrow (threaded — the reads release the GIL) and run the
    unchanged per-shard kernel, then merge with topk_window's exact
    (score DESC, doc_id ASC) total order. Returns a local-relation
    DataFrame; every call recomputes from the parquet artifact."""
    from concurrent.futures import ThreadPoolExecutor

    need_gseq = tomb is not None and len(tomb[0]) > 0
    meta_cache = getattr(ix, "_pq_meta", None)
    if meta_cache is None:
        meta_cache = ix._pq_meta = _FooterCache(
            LOCAL_SEARCH_FOOTER_WARM_MAX_FILES
        )
    if not meta_cache.warmed:
        meta_cache.warmed = True
        # first local call: warm the WHOLE artifact's parquet footers once
        # (threaded; ~2 ms each). A point-query workload touches fresh
        # buckets per query, so per-call caching alone leaves every call
        # cold; one warm pass makes the whole 20-call p50 sweep read data
        # pages only. Gated by file count so a huge index falls back to
        # per-call parsing (through the LRU) instead of a warm that the
        # cache bound would evict again.
        import pyarrow.parquet as pq

        all_paths = [
            p for lst in ix.shard_file_map().values() for _, p in lst
        ]
        if len(all_paths) <= meta_cache.cap:
            def _warm(p):
                try:
                    meta_cache.put(p, pq.read_metadata(p))
                except OSError:
                    pass

            with ThreadPoolExecutor(max_workers=16) as wpool:
                list(wpool.map(_warm, all_paths))

    shards = sorted(fm)

    def read_shard(s):
        return _read_blocks_meta_cached(
            fm[s], cols, terms, need_gseq, meta_cache,
        )

    # reads threaded (pyarrow releases the GIL on data pages); kernels
    # sequential — the numpy fold's short ufunc bursts thrash under a
    # thread pool (measured: pooled read+kernel 0.50 s vs 0.28 s split)
    if len(shards) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(shards))) as pool:
            pdfs = list(pool.map(read_shard, shards))
    else:
        pdfs = [read_shard(shards[0])]
    parts = [kernel(pdf) for pdf in pdfs if len(pdf)]
    parts = [p for p in parts if p is not None and len(p)]
    out_schema = "query_id int, rank int, doc_id long, score double"
    if not parts:
        return spark.createDataFrame([], out_schema)
    allp = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    qids = allp["query_id"].to_numpy()
    dids = allp["doc_id"].to_numpy(dtype=np.int64)
    scs = allp["score"].to_numpy(dtype=np.float64)
    rows = []
    for qid in np.unique(qids):
        m = qids == qid
        d, s = dids[m], scs[m]
        order = np.lexsort((d, -s))[:k]
        rows.extend(
            (int(qid), r + 1, int(d[i]), float(s[i]))
            for r, i in enumerate(order)
        )
    # VALUES LocalRelation, not createDataFrame(rows): the latter builds a
    # parallelize()-backed RDD whose every action is a real multi-task job
    # (~0.35 s per count at local[32] — measured); a VALUES relation
    # collapses to LocalTableScan, driver-only. repr(float) -> string ->
    # CAST(DOUBLE) is an exact round trip (correctly-rounded parse of the
    # shortest round-trip decimal), so scores keep their exact bits.
    # Casts are per COLUMN, not per cell — analysis cost scales with the
    # expression count (measured 0.15 s vs 0.12 s per action at 40 cells).
    # r07 note: the Arrow localrel.local_df path was tried here and
    # measured ~15-45 ms SLOWER per action than VALUES at top-k sizes
    # (pandas+Arrow conversion overhead on a latency path where the rest
    # is a ~90 ms analysis floor) — keep VALUES for this one site.
    vals = ", ".join(
        f"({q}, {r}, {d}, '{s!r}')" for q, r, d, s in rows
    )
    return spark.sql(
        "SELECT CAST(c1 AS INT) query_id, CAST(c2 AS INT) rank, "
        "CAST(c3 AS BIGINT) doc_id, CAST(c4 AS DOUBLE) score "
        "FROM (VALUES {}) AS t(c1, c2, c3, c4)".format(vals)
    )


def _wand_topk_fn(q_occ: dict[int, list[tuple[str, float]]],
                  k1: float, b: float, avgdl: float, k: int,
                  derived_bounds: bool = False,
                  side: bool = False, has_qual: bool = False,
                  tombstones: "tuple | None" = None,
                  and_need: dict[int, int] | None = None,
                  exclude: dict[int, list[str]] | None = None,
                  fieldw: tuple | None = None):
    """Shard-local block-max WAND kernel: a 3-phase pruned traversal
    executed INSIDE the shard task on block metadata. All bounds are
    shard-local and epsilon-widened, so the result is EXACT under the
    total order (score desc, doc_id asc):

    phase 1  θ = per-term bootstrap from block minima (k docs provably ≥ θ)
    phase 2  decode only blocks with w·max_tf_norm + rest ≥ θ; partial P
    phase 3  τ = kth P; re-decode pruned blocks covering candidates with
             P + missing-UB ≥ τ (a doc lives in exactly ONE block per term,
             so adding a pruned block's contribution cannot double-count).

    Decoded blocks are cached per task, so a term shared by many queries
    decodes once, like the dense sharded kernel. q_occ holds each query's
    (term, idf) list per token OCCURRENCE in query order; final candidate
    scores are summed in exactly that order (lexsort by (doc, qpos) +
    ordered reduceat), matching OracleIndex.search bit-exactly so exact
    ties break by doc_id in both engines.

    Round-5 unification — the pruned path survives production traffic:
    - ``derived_bounds``: per-block upper/lower contribution bounds are
      computed AT QUERY TIME from the stored raw (max_tf, min_dl) /
      (min_tf, max_dl) integers under the EFFECTIVE (k1, b) — tf_norm is
      monotone increasing in tf and decreasing in dl (each IEEE op is
      correctly rounded hence weakly monotone, so the float bound is
      sound, not just the real-arithmetic one) — removing the k1/b
      override refusal.
    - ``tombstones`` (closure pair) / ``side`` rows (kind=1
      distributed tombstones, kind=0 `where=` qualifying ids when
      ``has_qual``): decoded blocks mask per posting exactly like the
      dense kernel. Phase 1's METADATA bootstrap would count dead or
      non-qualifying docs toward "k docs ≥ θ" and over-prune, so under
      any mask it switches to a DECODE-BASED bootstrap: blocks are walked
      in descending lower-bound order and their LIVE QUALIFYING posting
      counts accumulate until k is proven (decodes cache, so phase 2
      reuses them). θ stays sound; pruning degrades gracefully with
      mask selectivity instead of being refused.

    Round-6 unification — the boolean surfaces run pruned too:
    - ``exclude`` ({query_id: [terms]}, Lucene MUST_NOT): each excluded
      term's blocks decode into a per-query sorted id set applied at
      ACCUMULATION time — excluded docs never enter P/CU, so τ stays
      sound (an excluded doc holding the kth partial would over-prune a
      true candidate), and the θ bootstrap switches to the decode-based
      variant counting only non-excluded docs. Survivor scores are the
      bitwise-unchanged OR sums (exclusion only ever drops whole docs).
    - ``and_need`` ({query_id: required distinct-token coverage} —
      mode='and' and minimum_should_match): these queries skip the θ/τ
      machinery for CANDIDATE-DRIVEN conjunctive retrieval, the textbook
      stronger pruning for mandatory terms. With d shard-present distinct
      terms and requirement n, any covering doc must match one of the
      d-n+1 rarest terms (missing all of them leaves at most n-1
      matches), so those terms' postings form the candidate list; every
      other term decodes only blocks whose [first_doc, last_doc] range
      intersects it. Coverage is counted per candidate (group-local and
      exact — a doc's postings live in its one doc-range group), scores
      are the canonical-fold OR sums of covering docs restricted to
      decoded-∩-candidates (survivors ⊆ candidates, so nothing is
      lost) — bit-identical to the sharded kernel's post-fold filter."""
    EPS = 1e-9
    wanted = {t for tw in q_occ.values() for t, _ in tw}
    if exclude:
        wanted |= {t for ts in exclude.values() for t in ts}

    def _run(pdf: pd.DataFrame,
             qual: "np.ndarray | None",
             tomb: "tuple | None") -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int32"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if pdf.empty:
            return empty
        masked = (qual is not None) or (tomb is not None and len(tomb[0]))
        if tomb is not None and not len(tomb[0]):
            tomb = None
        from .bm25 import tf_norm_np
        from .codecs import dead_mask as _dead_mask

        tdata: dict[str, dict] = {}
        for term, grp in pdf.groupby("term", sort=False):
            if term not in wanted:
                continue
            if fieldw is not None:
                # BM25F bounds from the raw block integers under the
                # WEIGHT ENVELOPE: tf~ <= wmax*max_tf (weighted avg of the
                # field tfs) and dl~ >= wmin*min_dl, so
                # tf_norm(wmax*max_tf, wmin*min_dl) under the weighted
                # avgdl upper-bounds every posting's weighted tf_norm
                # (monotone inc in tf~, dec in dl~); the lower bound
                # mirrors with (wmin*min_tf, wmax*max_dl). Sound for any
                # positive weights; looser than exact per-field bounds,
                # which the layout does not store.
                _, w_t, w_b = fieldw
                wmax, wmin = max(w_t, w_b), min(w_t, w_b)
                maxt = tf_norm_np(
                    wmax * grp["max_tf"].to_numpy(dtype=np.float64),
                    wmin * grp["min_dl"].to_numpy(dtype=np.float64),
                    avgdl, k1, b,
                )
                mint = tf_norm_np(
                    wmin * grp["min_tf"].to_numpy(dtype=np.float64),
                    wmax * grp["max_dl"].to_numpy(dtype=np.float64),
                    avgdl, k1, b,
                )
            elif derived_bounds:
                maxt = tf_norm_np(
                    grp["max_tf"].to_numpy(dtype=np.int64),
                    grp["min_dl"].to_numpy(dtype=np.int64), avgdl, k1, b,
                )
                mint = tf_norm_np(
                    grp["min_tf"].to_numpy(dtype=np.int64),
                    grp["max_dl"].to_numpy(dtype=np.int64), avgdl, k1, b,
                )
            else:
                maxt = grp["max_tf_norm"].to_numpy()
                mint = grp["min_tf_norm"].to_numpy()
            tdata[term] = {
                "n": grp["n_docs"].to_numpy(),
                "first": grp["first_doc"].to_numpy(),
                "last": grp["last_doc"].to_numpy(),
                "maxt": maxt,
                "mint": mint,
                "gseq": (
                    grp["gseq"].to_numpy(dtype=np.int64)
                    if tomb is not None else None
                ),
                "dv": grp["docs_vbyte"].to_list(),
                "tv": grp["tfs_vbyte"].to_list(),
                "lv": grp["dls_vbyte"].to_list(),
                "pv": (grp["pos_vbyte"].to_list()
                       if fieldw is not None else None),
                "dec": [None] * len(grp),
            }

        def dec(td: dict, j: int):
            if td["dec"][j] is None:
                n = int(td["n"][j])
                ids = delta_decode(vbyte_decode(td["dv"][j], n))
                tfs_i = vbyte_decode(td["tv"][j], n)
                dls = vbyte_decode(td["lv"][j], n).astype(np.float64)
                if fieldw is not None:
                    # same weighted tf~/dl~ derivation as the sharded
                    # kernel (index_bm25f_search): tf1 from positions
                    split, w_t, w_b = fieldw
                    cnt = tfs_i.astype(np.int64)
                    pos_gaps = vbyte_decode(td["pv"][j], int(cnt.sum()))
                    starts = np.cumsum(cnt) - cnt
                    pos_all = segment_delta_restore(pos_gaps, starts, cnt)
                    tf1 = np.add.reduceat(
                        (pos_all < split).astype(np.int64), starts
                    )
                    tfs = w_t * tf1 + w_b * (cnt - tf1)
                    dls = (
                        w_t * np.minimum(dls, float(split))
                        + w_b * np.maximum(dls - split, 0.0)
                    )
                else:
                    tfs = tfs_i.astype(np.float64)
                tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                m = None
                if tomb is not None:
                    m = ~_dead_mask(ids, td["gseq"][j], tomb[0], tomb[1])
                if qual is not None:
                    mq = _in_sorted(ids, qual)
                    m = mq if m is None else (m & mq)
                if m is not None:
                    ids, tfn = ids[m], tfn[m]
                td["dec"][j] = (ids, tfn)
            return td["dec"][j]

        def _fold_select(tri_d: list, tri_p: list, tri_v: list):
            """Canonical query-order summation per doc (lexsort by
            (doc, qpos) then a STRICTLY SEQUENTIAL per-doc fold —
            bit-identical to the oracle's per-occurrence accumulation;
            np.add.reduceat is pairwise even for 4 elements) followed by
            the top-k selection under (score desc, doc_id asc)."""
            d_all = np.concatenate(tri_d)
            p_all = np.concatenate(tri_p)
            v_all = np.concatenate(tri_v)
            order = np.lexsort((p_all, d_all))
            d_s, v_s = d_all[order], v_all[order]
            bounds = np.flatnonzero(np.r_[True, d_s[1:] != d_s[:-1]])
            counts = np.diff(np.r_[bounds, len(d_s)])
            cs = np.zeros(len(bounds))
            for r in range(int(counts.max())):  # <= #query occurrences
                sel = counts > r
                cs[sel] += v_s[bounds[sel] + r]
            cd = d_s[bounds]
            kk = min(k, len(cd))
            kth = -np.partition(-cs, kk - 1)[kk - 1]
            sel = np.flatnonzero(cs >= kth)
            keep2 = sel[np.lexsort((cd[sel], -cs[sel]))][:k]
            return cd[keep2], cs[keep2]

        rows_q, rows_d, rows_s = [], [], []
        for qid, tw_full in q_occ.items():
            # occurrences present in this shard, with their query positions
            tw = [
                (qpos, t, w)
                for qpos, (t, w) in enumerate(tw_full)
                if t in tdata
            ]
            if not tw:
                continue
            # per-query MUST-NOT id set: excluded terms' blocks decode
            # (cached, globally masked) into one sorted array applied at
            # accumulation time below
            ex_ids = None
            if exclude and qid in exclude:
                arrs = [
                    dec(tdata[t], j)[0]
                    for t in exclude[qid] if t in tdata
                    for j in range(len(tdata[t]["n"]))
                ]
                arrs = [a for a in arrs if len(a)]
                if arrs:
                    ex_ids = np.unique(np.concatenate(arrs))
                    if not len(ex_ids):
                        ex_ids = None

            if and_need is not None and qid in and_need:
                # ---- candidate-driven conjunctive retrieval ----------
                need = and_need[qid]
                dterms = list(dict.fromkeys(t for _, t, _ in tw))
                if len(dterms) < need:
                    continue  # this doc range cannot cover the query
                by_df = sorted(
                    dterms, key=lambda t: int(tdata[t]["n"].sum())
                )
                gen_arrs = [
                    dec(tdata[t], j)[0]
                    for t in by_df[: len(dterms) - need + 1]
                    for j in range(len(tdata[t]["n"]))
                ]
                gen_arrs = [a for a in gen_arrs if len(a)]
                if not gen_arrs:
                    continue
                cand = np.unique(np.concatenate(gen_arrs))
                if ex_ids is not None:
                    cand = cand[~_in_sorted(cand, ex_ids)]
                if not len(cand):
                    continue
                cov = np.zeros(len(cand), dtype=np.int32)
                term_hits: dict[str, tuple] = {}
                for t in dterms:
                    td = tdata[t]
                    # range-skip: only blocks overlapping the candidate
                    # list can contribute (same searchsorted test as the
                    # θ path's phase 3)
                    lo = np.searchsorted(cand, td["first"], side="left")
                    hi = np.searchsorted(cand, td["last"], side="right")
                    idxs, vals = [], []
                    for j in np.flatnonzero(hi > lo):
                        ids, tfn = dec(td, int(j))
                        if not len(ids):
                            continue
                        pos = np.searchsorted(cand, ids)
                        pos_c = np.minimum(pos, len(cand) - 1)
                        m = cand[pos_c] == ids
                        if m.any():
                            idxs.append(pos_c[m])
                            vals.append(tfn[m])
                    if idxs:
                        pi = np.concatenate(idxs)
                        cov[np.unique(pi)] += 1  # distinct-term coverage
                        term_hits[t] = (pi, np.concatenate(vals))
                covered = cov >= need
                if not covered.any():
                    continue
                tri_d, tri_p, tri_v = [], [], []
                for qpos, t, w in tw:
                    th = term_hits.get(t)
                    if th is None:
                        continue
                    pi, pv = th
                    m = covered[pi]
                    if m.any():
                        tri_d.append(cand[pi[m]])
                        tri_p.append(
                            np.full(int(m.sum()), qpos, dtype=np.int32)
                        )
                        tri_v.append(w * pv[m])
                if not tri_d:
                    continue
                cd2, cs2 = _fold_select(tri_d, tri_p, tri_v)
                rows_q.append(np.full(len(cd2), qid, dtype=np.int32))
                rows_d.append(cd2)
                rows_s.append(cs2)
                continue

            ub = {qpos: w * float(tdata[t]["maxt"].max()) for qpos, t, w in tw}
            S = sum(ub.values())
            # phase 1: θ bootstrap — "k docs provably score >= θ". From
            # metadata minima alone when unmasked; under tombstone/filter
            # masks (or a MUST-NOT set), from cached decodes in descending
            # lower-bound order (only LIVE QUALIFYING NON-EXCLUDED docs
            # may count toward the claim).
            theta = 0.0
            for qpos, t, w in tw:
                td = tdata[t]
                L = w * td["mint"]
                if masked or ex_ids is not None:
                    order = np.argsort(-L, kind="stable")
                    cnt = 0
                    for j in order:
                        ids_j = dec(td, int(j))[0]
                        if ex_ids is not None and len(ids_j):
                            ids_j = ids_j[~_in_sorted(ids_j, ex_ids)]
                        cnt += len(ids_j)
                        if cnt >= k:
                            theta = max(theta, float(L[j]))
                            break
                    continue
                order = np.argsort(-L, kind="stable")
                cum = np.cumsum(td["n"][order])
                hit = np.flatnonzero(cum >= k)
                if len(hit):
                    theta = max(theta, float(L[order[hit[0]]]))
            theta_eps = theta - abs(theta) * EPS
            # phase 2: decode survivors, partial scores
            parts = []  # (qpos, ids, contrib, ub_occ)
            pruned: list[tuple[int, str, float, np.ndarray]] = []
            for qpos, t, w in tw:
                td = tdata[t]
                ub_b = w * td["maxt"] + (S - ub[qpos])
                surv = ub_b >= theta_eps
                for j in np.flatnonzero(surv):
                    ids, tfn = dec(td, int(j))
                    if ex_ids is not None and len(ids):
                        mx = ~_in_sorted(ids, ex_ids)
                        ids, tfn = ids[mx], tfn[mx]
                    parts.append((qpos, ids, w * tfn, ub[qpos]))
                pr = np.flatnonzero(~surv)
                if len(pr):
                    pruned.append((qpos, t, w, pr))
            if not parts:
                continue
            ids_all = np.concatenate([p[1] for p in parts])
            sc_all = np.concatenate([p[2] for p in parts])
            ub_all = np.concatenate(
                [np.full(len(p[1]), p[3]) for p in parts]
            )
            if not len(ids_all):
                continue  # every decoded posting masked out of this range
            uids, inv = np.unique(ids_all, return_inverse=True)
            P = np.bincount(inv, weights=sc_all, minlength=len(uids))
            CU = np.bincount(inv, weights=ub_all, minlength=len(uids))
            if len(uids) > k:
                tau = float(-np.partition(-P, k - 1)[k - 1])
            else:
                tau = float("-inf")
            M = np.maximum(S - CU, 0.0)
            cand_mask = P + M >= tau - abs(tau) * EPS
            cand_ids = uids[cand_mask]  # sorted (np.unique output)
            # candidate membership via searchsorted on the ALREADY-SORTED
            # cand_ids (np.unique output) — np.isin re-sorts its second
            # argument on EVERY call, which at 5.5M-turn shards made these
            # two loops 6.2 s of a 7.5 s kernel (profiled)
            def in_cands(ids: np.ndarray) -> np.ndarray:
                return _in_sorted(ids, cand_ids)

            # candidate contributions from surviving blocks, tagged by qpos
            tri_d, tri_p, tri_v = [], [], []
            for qpos, ids, contrib, _u in parts:
                keep = in_cands(ids)
                if keep.any():
                    tri_d.append(ids[keep])
                    tri_p.append(np.full(int(keep.sum()), qpos, dtype=np.int32))
                    tri_v.append(contrib[keep])
            # phase 3: exact missing contributions for candidates
            for qpos, t, w, pr in pruned:
                td = tdata[t]
                lo = np.searchsorted(cand_ids, td["first"][pr], side="left")
                hi = np.searchsorted(cand_ids, td["last"][pr], side="right")
                for jj in np.flatnonzero(hi > lo):
                    j = int(pr[jj])
                    ids, tfn = dec(td, j)
                    keep = in_cands(ids)
                    if not keep.any():
                        continue
                    tri_d.append(ids[keep])
                    tri_p.append(np.full(int(keep.sum()), qpos, dtype=np.int32))
                    tri_v.append(w * tfn[keep])
            if not tri_d:
                continue
            cd2, cs2 = _fold_select(tri_d, tri_p, tri_v)
            rows_q.append(np.full(len(cd2), qid, dtype=np.int32))
            rows_d.append(cd2)
            rows_s.append(cs2)
        if not rows_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(rows_q),
                "doc_id": np.concatenate(rows_d),
                "score": np.concatenate(rows_s),
            }
        )

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        return _run(pdf, None, tombstones)

    def topk_side(blocks_pdf: pd.DataFrame,
                  side_pdf: pd.DataFrame) -> pd.DataFrame:
        # same kind-tagged side contract as the dense kernel
        qual, tomb = _parse_side(side_pdf, has_qual, tombstones)
        return _run(blocks_pdf, qual, tomb)

    return topk_side if side else topk


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
    scoring kernels."""
    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        from .codecs import dead_mask as _dead_mask

        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int32"),
                "doc_id": pd.Series(dtype="int64"),
                "ptf": pd.Series(dtype="int32"),
                "dl": pd.Series(dtype="int32"),
            }
        )
        if pdf.empty:
            return empty
        # per-term doc order: blocks of one (term, shard) partition the
        # sorted posting list, so ordering by first_doc restores it
        pdf = pdf.sort_values(["term", "first_doc"], kind="stable",
                              ignore_index=True)
        terms_arr = pdf["term"].to_numpy()
        n_arr = pdf["n_docs"].to_numpy().astype(np.int64)
        total = int(n_arr.sum())
        if total == 0:
            return empty
        seg_starts = np.cumsum(n_arr) - n_arr
        gaps = vbyte_decode(b"".join(pdf["docs_vbyte"]), total)
        all_ids = segment_delta_restore(gaps, seg_starts, n_arr)
        tfs = vbyte_decode(b"".join(pdf["tfs_vbyte"]), total).astype(np.int64)
        dls = vbyte_decode(b"".join(pdf["dls_vbyte"]), total).astype(np.int64)
        total_pos = int(tfs.sum())
        pos_gaps = vbyte_decode(b"".join(pdf["pos_vbyte"]), total_pos)
        tok_starts = np.cumsum(tfs) - tfs
        pos_all = segment_delta_restore(pos_gaps, tok_starts, tfs)
        alive = None
        if tombstones is not None and len(tombstones[0]):
            gseqs = np.repeat(pdf["gseq"].to_numpy(np.int64), n_arr)
            alive = ~_dead_mask(all_ids, gseqs, tombstones[0], tombstones[1])
        # slice per term
        tdata: dict[str, tuple] = {}
        blk_change = np.r_[True, terms_arr[1:] != terms_arr[:-1]]
        t_first = np.flatnonzero(blk_change)
        t_post_off = np.r_[seg_starts[t_first], total]
        for i, tb in enumerate(t_first):
            lo, hi = int(t_post_off[i]), int(t_post_off[i + 1])
            if hi <= lo:
                continue
            ids_t = all_ids[lo:hi]
            tfs_t = tfs[lo:hi]
            dls_t = dls[lo:hi]
            p_lo = int(tok_starts[lo])
            p_hi = p_lo + int(tfs_t.sum())
            pos_t = pos_all[p_lo:p_hi]
            if alive is not None:
                sel = alive[lo:hi]
                if not sel.any():
                    continue
                pos_t = pos_t[np.repeat(sel, tfs_t)]
                ids_t, tfs_t, dls_t = ids_t[sel], tfs_t[sel], dls_t[sel]
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
            tdata[terms_arr[tb]] = (ids_t, tfs_t, dls_t, pos_t)

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
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(rows_q),
                "doc_id": np.concatenate(rows_d),
                "ptf": np.concatenate(rows_p),
                "dl": np.concatenate(rows_l),
            }
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
    Catalyst scoring + top-k window, the only shuffle, exactly like
    index_search's direct plan.

    Returns (query_id, rank, doc_id, score); queries whose phrase matches
    nothing (or with an absent term) yield no rows."""
    from .bm25 import idf as idf_py
    from .jobs import TOMBSTONE_BROADCAST_MAX
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
    n_del = ix.n_deleted()
    if n_del > TOMBSTONE_BROADCAST_MAX:
        raise ValueError(
            f"{n_del} tombstoned docs exceed the closure-mask threshold; "
            "compact_index before phrase search"
        )
    tomb = ix.tombstones_pair() if n_del else None
    q_phrases: dict[int, list[str]] = {}
    for qid, text in phrases:
        toks = tokenize_py(text)
        if toks:
            q_phrases[qid] = toks
    empty = spark.createDataFrame(
        [], "query_id int, rank int, doc_id long, score double"
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
            "docs_vbyte", "tfs_vbyte", "dls_vbyte", "pos_vbyte"]
    # range-scan work items (see _direct_topk_gen: pure-JVM input, file
    # lists in the closure — no PythonRDD scan)
    matched = spark.range(len(fm), numPartitions=len(fm)).mapInPandas(
        _direct_topk_gen(
            _phrase_match_fn(q_phrases, tombstones=tomb, slop=slop),
            cols, terms, fm, tomb,
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
                for term, df, _mtn in exp.get(t, ()):
                    present.append((term, idf_fn(df, ix.n_docs)))
            elif (v := stats.get(t)) is not None:
                present.append((t, idf_fn(v[0], ix.n_docs)))
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
            for t in toks for term, df, _mtn in exp.get(t, ())
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

    Delegates to index_search's kernels ('sharded' default or
    'blockmax' — the WAND kernel derives sound
    pruning bounds from the raw block integers under the weight
    envelope tf~ <= wmax*max_tf, dl~ >= wmin*min_dl), so
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
    emits its local top-k. Without a side frame that is the direct plan
    (one ``spark.range`` work item per shard, or the driver for a few
    small queries); `where=`/`where_expr`/`collapse`, and tombstones past
    TOMBSTONE_BROADCAST_MAX, take the side-direct plan. An index whose
    posting layout predates 2 is refused (Index.shard_file_map);
    ``compact_index`` upgrades it.

    strategy:
      "sharded"     (default) exact dense scoring: each shard task decodes
                    every block of the query terms once and folds every
                    query over it.
      "blockmax"    block-max pruning: only blocks that can affect the
                    top-k are decoded; exact.
                    Clean shape (no exclude/field weights): INTERVAL-
                    pruned dense kernel — the bounds analysis runs
                    vectorized over doc-range intervals
                    (_interval_prune) and surviving blocks feed the
                    unchanged densified fold, so it degrades to
                    'sharded' speed when bounds exclude nothing
                    (BENCH_BOOL_AB.json: the per-block WAND kernel's
                    Python call overhead lost to the dense kernel at
                    every benchable scale). Excluded/field-weighted
                    shapes: 3-phase block-max WAND (_wand_topk_fn),
                    whose bootstrap masks at decode time.

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
    its search-time knob the same way, benchmarks.yml ef_search). The
    blockmax strategy derives sound pruning bounds for the effective
    (k1, b) from each block's raw (max_tf, min_tf, min_dl, max_dl)
    metadata.

    `mode` selects the boolean semantics over the query's tokens:
    "or" (default) ranks any doc matching >= 1 token; "and" ranks only
    docs containing EVERY distinct token (conjunctive retrieval — the
    classic search-engine AND query). Scores are the same full BM25
    sums (an AND hit matches every term, so its OR and AND scores are
    bitwise identical); the doc-range sharding makes the coverage test
    group-local (see _sharded_topk_fn). Composes with
    where=/k1/b/tombstones.
    On 'blockmax' these queries run CANDIDATE-DRIVEN conjunctive
    retrieval (see _wand_topk_fn). Measured guidance (BENCH_BOOL_AB.json):
    on the fixture corpus the dense 'sharded' kernel beats 'blockmax'
    at EVERY batch size and core count — iid-Zipf text is prune-hostile
    (block bounds sit near actual scores, θ excludes little) while the
    WAND kernel pays per-block call overhead. Prefer the default
    'sharded' for interactive traffic; 'blockmax' is the asymptotic
    design point (per-term postings ≫ task memory, skewed real-text tf
    where block maxima discriminate).

    `min_match` (mode='or', 'sharded' strategy) is Lucene's
    minimum-should-match: rank only docs matching >= that many DISTINCT
    query tokens. A token absent from the corpus can never match, so a
    query whose corpus-present distinct tokens number fewer than
    min_match is unsatisfiable and returns no rows. min_match=1 is
    plain OR; min_match >= the distinct-token count behaves like
    mode='and'. Scores are the unchanged full BM25 sums of the
    surviving docs; the coverage test is group-local and exact, same
    as mode='and' (see _sharded_topk_fn). Composes with where=/k1/b/
    tombstones/exclude.

    `exclude` is Lucene's MUST_NOT: {query_id: "tokens ..."} — docs
    containing ANY of that query's excluded tokens are dropped from its
    result (scored docs only lose rows; idf/avgdl stay global, and
    remaining scores are bitwise unchanged). An excluded token absent
    from the corpus excludes nothing; a user-typed token that is both
    scored and excluded in the SAME query raises (always-empty by
    construction) — except under prefix expansion, where excluding one
    of a wildcard's own expansions ("w07*" minus "w0777") is legitimate
    and simply drops that token's docs. On 'blockmax' the WAND kernel
    filters excluded docs at accumulation time so its τ bound stays
    sound; composes with
    mode/min_match/where=/k1/b/tombstones and
    with prefix search (exclusion tokens are exact, never expanded).

    `search_after` is OpenSearch's stateless cursor pagination:
    {query_id: (score, doc_id)} — return the top-k candidates STRICTLY
    after the cursor in the result total order (score DESC, doc_id
    ASC), i.e. ``score < s OR (score == s AND doc_id > d)``. Chain
    pages by passing the last hit of each page as the next cursor;
    queries absent from the dict serve page 1. The mask runs on the
    folded scores in the kernel BEFORE local top-k extraction (each
    shard's survivors are the true after-cursor leaders), and the
    float equality is sound because cursors come from the engine's
    own bit-exact scores. 'sharded' strategy only (a pruning
    strategy's theta bootstrap counts docs the cursor excludes, so
    theta could exceed the true kth-after-cursor score); composes with
    where=/mode/min_match/exclude/k1/b/tombstones.

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
    'sharded' strategy only (a pruning theta that counts k same-group
    docs overstates the collapsed kth score); composes with where=/
    where_expr/mode/min_match/exclude/k1/b/fields/tombstones; refuses
    search_after (a doc-level cursor could resurface a page-1 group
    via its second-best doc).

    `_resolved` (internal) bypasses _query_weights with a pre-expanded
    occurrence map — the prefix-search entry point resolves wildcard
    tokens against the vocabulary and delegates everything else here.
    """
    from .jobs import TOMBSTONE_BROADCAST_MAX
    from .xxhash64 import spark_pmod_bucket

    if strategy not in ("sharded", "blockmax"):
        raise ValueError(
            f"strategy must be 'sharded' or 'blockmax', got {strategy!r}"
        )
    n_del = ix.n_deleted()
    # small delete sets ship into kernels as closure (ids, del_seq) arrays;
    # large ones ride the side frame as kind=1 rows grouped by shard
    # exactly like `where=` qualifying ids — no driver array, no size cap
    use_cotomb = n_del > TOMBSTONE_BROADCAST_MAX
    tomb = ix.tombstones_pair() if (n_del and not use_cotomb) else None
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
        if strategy != "sharded":
            # the pruned strategies' theta bootstrap counts docs the
            # cursor excludes (theta could exceed the true kth-after-
            # cursor score), so pruning is unsound under a cursor
            raise ValueError(
                "search_after (cursor pagination) is served by the "
                "'sharded' strategy only"
            )
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
        if strategy != "sharded":
            # a pruning theta bootstrap may count k docs of one collapse
            # group, overstating the collapsed kth score — unsound
            raise ValueError(
                "collapse (field collapsing) is served by the 'sharded' "
                "strategy only"
            )
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
        return spark.createDataFrame([], out_schema)
    # k1/b overrides and field weights on blockmax derive the pruning
    # bounds from the RAW per-block integers (max_tf/min_tf/min_dl/max_dl)
    # under the effective parameters at query time
    derived = strategy == "blockmax" and (
        eff_k1 != ix.k1 or eff_b != ix.b or fw is not None
    )
    # the block fetch widens scoring terms with MUST-NOT terms (their
    # blocks ride the same read, presence-only)
    terms = sorted(
        {t for tw in occ.values() for t, _ in tw}
        | ({t for ts in excl_map.values() for t in ts} if excl_map else set())
    )
    buckets = sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in terms}
    )
    fm = ix.shard_file_map(buckets)  # refuses posting layout < 2
    if not fm:
        return spark.createDataFrame([], out_schema)
    cols = ["term", "n_docs", "docs_vbyte", "tfs_vbyte", "dls_vbyte"]
    if fw is not None:
        cols.append("pos_vbyte")
    if strategy == "blockmax":
        cols += ["first_doc", "last_doc"]
        # derived bounds replace the precomputed tf_norm bounds entirely —
        # don't read columns the kernel ignores
        cols += (
            ["max_tf", "min_tf", "min_dl", "max_dl"] if derived
            else ["max_tf_norm", "min_tf_norm"]
        )
    # collapse values ride the side frame exactly like qualifying ids
    has_qual = bool(where) or where_expr is not None or collapse is not None
    needs_side = has_qual or use_cotomb
    kw = dict(side=needs_side, has_qual=has_qual, tombstones=tomb,
              and_need=and_need)
    if strategy == "blockmax" and not excl_map and fw is None:
        # interval-pruned dense kernel (BENCH_BOOL_AB.json follow-up): the
        # bounds analysis runs vectorized over doc-range intervals, the
        # scoring is the unchanged densified fold — never slower than
        # 'sharded', skips decode where bounds pay; conjunctive queries
        # (and_need) compose via coverage liveness + the coverage-aware
        # seed theta, and tombstones / where= via mask-exact seed decode
        # (_interval_prune doc)
        kern = _sharded_topk_fn(
            occ, eff_k1, eff_b, eff_avgdl, k,
            prune_bounds="derived" if derived else "stored", **kw,
        )
    elif strategy == "blockmax":
        kern = _wand_topk_fn(
            occ, eff_k1, eff_b, eff_avgdl, k, derived_bounds=derived,
            exclude=excl_map, fieldw=fw, **kw,
        )
    else:
        kern = _sharded_topk_fn(
            occ, eff_k1, eff_b, eff_avgdl, k, exclude=excl_map, fieldw=fw,
            after=search_after, collapse=collapse is not None, **kw,
        )
    if not needs_side:
        return _direct_search(ix, kern, cols, terms, fm, tomb, occ, k)
    # SIDE-DIRECT: only the side frame is grouped by shard; each group
    # pyarrow-reads its shard's blocks in-task (_direct_side_fn)
    val_cols = (
        [F.col(collapse).cast("string").alias("value")]
        if collapse is not None else []
    )
    sides = []
    if has_qual:
        sides.append(filtered_live_stats(ix, where, where_expr).select(
            "doc_id",
            F.shiftright("doc_id", ix.shard_shift).alias("shard_id"),
            F.lit(0).alias("kind"),
            F.lit(0).cast("long").alias("seq"),
            *val_cols,
        ))
    if use_cotomb:
        sides.append(ix.tombstones_df().select(
            "doc_id",
            F.shiftright("doc_id", ix.shard_shift).alias("shard_id"),
            F.lit(1).alias("kind"),
            F.col("del_seq").alias("seq"),
            *(
                [F.lit(None).cast("string").alias("value")]
                if collapse is not None else []
            ),
        ))
        if not has_qual:
            # the side-direct plan skips every shard absent from the side,
            # which is exact only when the side lists the qualifying docs;
            # a tombstone-only side would drop tombstone-free shards, so
            # it carries one kind=2 anchor row per shard the query reads
            sides.append(local_df(
                spark, [(0, s, 2, 0) for s in sorted(fm)],
                "doc_id long, shard_id long, kind int, seq long",
            ))
    side = sides[0]
    for extra in sides[1:]:
        side = side.unionByName(extra)
    shard_tops = side.groupBy("shard_id").applyInPandas(
        _direct_side_fn(kern, cols, terms, fm, need_gseq=bool(n_del)),
        schema=(
            "query_id int, doc_id long, score double"
            + (", value string" if collapse is not None else "")
        ),
    )
    if collapse is not None:
        return _collapse_window(shard_tops, k)
    return topk_window(shard_tops, k)
