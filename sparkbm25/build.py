"""Distributed inverted-index construction — the engine's flagship pipeline.

Transposes the reference's three-stage build job (reference: core/tasks.py:8-33
``create_vectors_dataset → build_index → upload_index``; orchestration
core/tasks.py:80-211 with per-stage timing logs) into Spark stages:

    stats → [per lineage-group] salted repartition → SPIMI runs → merge →
    compressed block postings → finalize (term stats + manifest)

Scale design (the part that must survive 10^12 turns):

- **Salted repartitioning (explicit, term-agnostic).** The corpus is
  repartitioned on ``pmod(xxhash64(doc_id), num_shards * salt_factor)``
  BEFORE tokenization, so no term key ever concentrates on one task — the
  head term "the" is built across all ``num_shards*salt_factor`` tasks.
  This is stronger than salting only a sketched head-term set and is the
  SPIMI classic: every partition builds sorted runs for the terms it sees.
- **Doc-range shards.** ``shard_id = doc_id >> shard_shift`` (power-of-two
  spans: an arithmetic shift is overflow-free over the full signed-int64
  range — the hash64 scheme uses nearly all of it, where ``doc_id -
  min_doc`` overflows under ANSI — and bit-identical between Spark's
  shiftright and numpy's ``>>``).
  A (term, shard) posting list is bounded by the shard's doc count, so the
  merge task memory is bounded by ``shard_span`` — the sizing knob recorded
  in the manifest (the analog of the reference's closed-form memory
  estimate, app/utils/memory.py:14-59). Range shards also let a search
  task read one shard's postings and its docs' lengths side by side.
- **Two compact shuffles total.** (1) docs by salted key — raw text, smaller
  than its exploded postings; (2) packed binary runs by (term, shard) —
  already delta-friendly sorted arrays, not rows. The merge group receives
  at most ``num_shards*salt_factor`` runs.
- **Resumable lineage groups.** Shards are striped into ``lineage_groups``
  disjoint doc subsets; each group's postings land in
  ``postings/group=G/`` with a lineage record on completion. A killed build
  resumes by skipping completed groups (reference analog: job store +
  idempotent short-circuit, app/services/job_service.py:60-83 — but durable,
  see SURVEY.md §2.7 C4).

Index artifact layout (the analog of the serialized faiss blob,
faiss_index_build_service.py:165-238):

    index_dir/
      manifest.json                    build params, stats, lineage, metrics
      doc_stats/group=G/shard_id=S/    (doc_id, doc_len [, text] [, attrs]):
                                       each doc's length stored once, in
                                       its doc-range shard — the norms
                                       the search kernels gather
      postings/group=G/term_bucket=B/shard_id=S/   block rows
                                       (BLOCK_SCHEMA; posting layout 3)
      term_stats/                      (term, df, cf)

Posting layout 3 keeps per block only what a search decodes or orders by:
the doc-id gaps, the tfs, the positions and ``first_doc`` (phrase search
orders a term's blocks by it). A doc's length is not repeated in its
postings: kernels read it from the shard's ``doc_stats`` rows
(index_query._read_shard_norms), like Lucene's per-document norms.
Layouts 1 and 2 (a per-posting length stream and block bound columns;
layout 1 also lacks the shard_id directory level) are read only by
``compact_index``, the one migration.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import B, K1
from .codecs import BLOCK_SIZE

RUN_SCHEMA = (
    "term string, shard_id long, n_docs int, "
    "docs_vb binary, tfs_vb binary, pos_vb binary"
)

# Posting layout 3 block row: the streams a search decodes plus the
# block's first_doc (phrase search orders a term's blocks by it) and
# sum_tf (term_stats' cf). docs_vbyte holds the doc ids as first-absolute
# + gaps varbyte, tfs_vbyte the tfs; pos_vbyte (optional,
# BuildParams.store_positions) holds per posting its token positions as
# first-absolute + gaps varbyte, concatenated in posting order (tf values
# per posting). No doc length and no score bound is stored per posting or
# block: the kernels gather lengths from doc_stats and fold every posting.
BLOCK_SCHEMA = (
    "term string, shard_id long, block_id int, n_docs int, "
    "first_doc long, sum_tf long, "
    "docs_vbyte binary, tfs_vbyte binary, pos_vbyte binary"
)


_INT32_MAX = (1 << 31) - 1


def segment_binary(buf: np.ndarray, val_sizes: np.ndarray,
                   seg_starts: np.ndarray) -> "pa.Array":
    """BinaryArray over the single encoded stream ``buf``, cut into
    segments that start at the values ``seg_starts``; ``val_sizes`` holds
    each value's encoded byte count. The offsets index ``buf`` directly,
    so no per-segment bytes object is made.

    Arrow binary offsets are int32: a stream of more than 2^31 - 1 bytes
    would wrap them silently into a corrupt array, so it raises
    ValueError instead."""
    import pyarrow as pa

    seg_bytes = np.add.reduceat(val_sizes, seg_starts)
    ends = np.cumsum(seg_bytes, dtype=np.int64)
    if len(ends) and int(ends[-1]) > _INT32_MAX:
        raise ValueError(
            f"{int(ends[-1])} encoded bytes in one Arrow batch exceed the "
            f"int32 binary offset limit ({_INT32_MAX}); use smaller batches"
        )
    offsets = np.zeros(len(seg_bytes) + 1, dtype=np.int32)
    offsets[1:] = ends
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(seg_bytes),
        [None, pa.py_buffer(offsets), pa.py_buffer(buf)],
    )


@dataclass
class BuildParams:
    """The job spec — analog of IndexBuildParameters
    (core/common/models/index_build_parameters.py:136-174, pydantic frozen)."""

    k1: float = K1
    b: float = B
    block_size: int = BLOCK_SIZE
    num_shards: int = 8
    salt_factor: int = 4
    num_term_buckets: int = 32
    lineage_groups: int = 4
    doc_id_scheme: str = "provided"  # or conv_seq / hash64 / row_number
    store_text: bool = False  # analog of skip_stored_vectors (inverted)
    # extra corpus columns stored per doc in doc_stats — the metadata that
    # search-time `where=` filters read (e.g. role / lang / source).
    # Tuple (hashable + JSON-stable) so job_id stays canonical.
    attr_cols: tuple = ()
    # store per-posting token positions (delta-varbyte) — enables phrase /
    # proximity queries at ~1 extra byte per token occurrence
    store_positions: bool = False
    tokenizer: str = "ascii_alnum_lower"

    def validate(self) -> None:
        if self.block_size < 8:
            raise ValueError("block_size must be >= 8")
        reserved = {"doc_id", "doc_len", "text", "group", "shard_id"}
        bad = reserved & set(self.attr_cols)
        if bad:
            raise ValueError(
                f"attr_cols collide with doc_stats layout columns: {sorted(bad)}"
            )
        if not isinstance(self.attr_cols, tuple):
            raise ValueError("attr_cols must be a tuple (canonical job id)")
        for f_ in ("num_shards", "salt_factor", "num_term_buckets", "lineage_groups"):
            if getattr(self, f_) < 1:
                raise ValueError(f"{f_} must be >= 1")
        if self.lineage_groups > self.num_shards:
            raise ValueError("lineage_groups must be <= num_shards")


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float
    min_doc: int
    max_doc: int
    shard_shift: int  # shard_id = doc_id >> shard_shift (arithmetic shift)
    extras: dict = field(default_factory=dict)

    @property
    def shard_span(self) -> int:
        return 1 << self.shard_shift


def _stats_from_manifest(m: dict) -> tuple[BuildParams, CorpusStats]:
    """The build params and frozen corpus stats a manifest records
    (params_dict) — what appends, compaction and a resumed build reuse."""
    b = m["build"]
    params = BuildParams(
        k1=b["k1"], b=b["b"], block_size=b["block_size"],
        num_shards=b["num_shards"], salt_factor=b["salt_factor"],
        num_term_buckets=b["num_term_buckets"],
        lineage_groups=b["lineage_groups"],
        doc_id_scheme=b["doc_id_scheme"], store_text=b["store_text"],
        attr_cols=tuple(b.get("attr_cols") or ()),
        store_positions=bool(b.get("store_positions", False)),
    )
    stats = CorpusStats(
        n_docs=b["n_docs"], avgdl=b["avgdl"], min_doc=b["min_doc"],
        max_doc=b["max_doc"], shard_shift=b["shard_shift"],
        extras=b.get("extras", {}),
    )
    return params, stats


def compute_corpus_stats(corpus: DataFrame, params: BuildParams) -> CorpusStats:
    """One aggregate pass: N, avgdl, doc-id range → shard span.

    The analog of the reference's parameter derivation from data size
    (index_builder_utils.py:29-41 n_lists=sqrt(n); here shard_span from
    id range / num_shards).

    The exact doc_id uniqueness audit (a full shuffle of all ids) runs only
    for the hash64 scheme, where collisions are possible; deterministic
    schemes (conv_seq/provided/row_number) are unique by construction and
    duplicates would still be caught by the merge kernel's strictly-
    increasing check."""
    from .analysis import tokens_col

    aggs = [
        F.count("*").alias("rows"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("null_ids"),
        F.count("doc_id").alias("n"),
        F.avg(F.size(tokens_col("text"))).alias("avgdl"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ]
    audit = params.doc_id_scheme == "hash64"
    if audit:
        aggs.append(F.countDistinct("doc_id").alias("nd"))
    # user-supplied ids can be arbitrarily clustered (1M dense ids plus one
    # outlier near 2^62 would put the whole corpus in one range-derived
    # shard); derive the span from doc-COUNT quantiles instead for the
    # `provided` scheme. conv_seq/row_number are dense and hash64 uniform
    # by construction, so range/num_shards is already count-balanced there.
    quantize = params.doc_id_scheme == "provided" and params.num_shards > 1
    if quantize:
        probs = [i / params.num_shards for i in range(1, params.num_shards)]
        aggs.append(F.percentile_approx("doc_id", probs, 100000).alias("qs"))
    row = corpus.select(*aggs).first()
    if row.null_ids:
        raise ValueError(
            f"{row.null_ids} of {row.rows} rows have NULL doc_id — for the "
            "conv_seq scheme this means conv_ids without a trailing digit "
            "run; fix the ids or use the hash64 scheme"
        )
    if row.n == 0:
        raise ValueError("empty corpus")
    if audit and row.n != row.nd:
        raise ValueError(f"doc_id not unique: {row.n} rows, {row.nd} distinct")
    # shard span is a POWER OF TWO so shard_id = doc_id >> shift, an
    # arithmetic shift that is overflow-free for the full signed-int64 range
    # (the hash64 scheme spans nearly all of it — `doc_id - min_doc` would
    # overflow under ANSI mode) and bit-identical between Spark's shiftright
    # and numpy's >>. The id-range arithmetic below is driver-side Python
    # (arbitrary precision).
    id_range = int(row.hi) - int(row.lo) + 1
    span_target = max(1, (id_range + params.num_shards - 1) // params.num_shards)
    shift = max(0, (span_target - 1).bit_length())
    extras: dict = {}
    if quantize and int(row.n) > params.num_shards:
        qs = [int(row.lo)] + sorted(int(q) for q in (row.qs or [])) + [int(row.hi)]
        gaps = [b - a for a, b in zip(qs, qs[1:]) if b > a]
        if gaps:
            # span = largest power of two <= the smallest quantile gap: two
            # quantile boundaries can then never share an aligned shard, so
            # every shard overlaps at most 2 quantile intervals and holds
            # <= ~2*n/num_shards docs regardless of id clustering
            gap_shift = max(0, min(gaps).bit_length() - 1)
            if gap_shift < shift:
                shift = gap_shift
        # exact audit (one light agg over the id column): per-shard balance
        # and fragmentation under the chosen span
        arow = (
            corpus.select(F.shiftright("doc_id", shift).alias("s"))
            .groupBy("s")
            .count()
            .agg(F.count("*").alias("nonempty"), F.max("count").alias("maxc"))
            .first()
        )
        extras["nonempty_shards"] = int(arow.nonempty)
        extras["max_shard_docs"] = int(arow.maxc)
        if int(arow.nonempty) > 64 * params.num_shards:
            raise ValueError(
                f"provided doc_ids are too scattered for doc-range shards: "
                f"{arow.nonempty} non-empty shards at span 2^{shift} "
                f"(budget {64 * params.num_shards}); use the hash64 scheme"
            )
        if int(arow.maxc) > max(4 * int(row.n) // params.num_shards, 1024):
            raise ValueError(
                f"provided doc_ids defeat count-balanced sharding: one shard "
                f"holds {arow.maxc} of {row.n} docs at span 2^{shift}; use "
                f"the hash64 scheme"
            )
    return CorpusStats(
        n_docs=int(row.n),
        avgdl=float(row.avgdl),
        min_doc=int(row.lo),
        max_doc=int(row.hi),
        shard_shift=shift,
        extras=extras,
    )


def _make_runs_gen(shard_shift: int, store_positions: bool = False):
    """Stage-1 kernel (mapInArrow): corpus batches -> COMPRESSED sorted
    runs per (term, shard).

    Vectorized end-to-end and Arrow-native: the token stream stays ONE
    Arrow buffer (analysis.tokenize_flat_arrow — the Catalyst tokenizer's
    stream, ASCII guarded), dictionary_encode factorizes it (codes +
    unique terms, no Python objects) and an Arrow string sort ranks the
    small vocabulary (tokens are pure [a-z0-9]+, so byte order == str
    order). One lexsort by (term, doc_id) of the batch gives tf as a
    run-length count, run boundaries fall where (term, shard) changes,
    and each stream is varbyte-encoded in ONE call for the whole batch
    and emitted as a BinaryArray whose offsets index straight into the
    encoded buffer — runs ship at ~3-4 B/posting instead of 16 B raw,
    cutting the SPIMI shuffle ~4-5x (at 10^12 turns the runs shuffle is
    the dominant network cost).

    With ``store_positions`` each token's position in its doc is the
    lexsort's last key, and the runs carry a per-posting position stream
    (first-absolute + gaps varbyte per posting, ~1 B per token
    occurrence); without it no position is computed."""
    from .codecs import segment_delta_gaps

    def gen(batches) -> "Iterator":
        import pyarrow as pa
        import pyarrow.compute as pc

        from .analysis import tokenize_flat_arrow
        from .codecs import vbyte_encode_arrays

        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, lens_d = tokenize_flat_arrow(rb.column(1))
            total = int(lens_d.sum())
            if total == 0:
                continue
            flat_doc = np.repeat(rb.column(0).to_numpy(), lens_d)
            dic = pc.dictionary_encode(flat)
            codes = dic.indices.to_numpy().astype(np.int64)
            uniq = dic.dictionary
            order_u = pc.sort_indices(uniq).to_numpy().astype(np.int64)
            rank = np.empty(len(uniq), dtype=np.int64)
            rank[order_u] = np.arange(len(uniq), dtype=np.int64)
            tcode = rank[codes]
            uniq_sorted = uniq.take(pa.array(order_u))
            if store_positions:
                tok_starts = np.cumsum(lens_d) - lens_d
                flat_pos = np.arange(total, dtype=np.int64) - np.repeat(
                    tok_starts, lens_d
                )
                order = np.lexsort((flat_pos, flat_doc, tcode))
            else:
                order = np.lexsort((flat_doc, tcode))
            tcode_s = tcode[order]
            doc_s = flat_doc[order]
            # posting boundaries: (term, doc) change; tf = occurrences
            pchange = np.ones(total, dtype=bool)
            pchange[1:] = (tcode_s[1:] != tcode_s[:-1]) | (
                doc_s[1:] != doc_s[:-1]
            )
            p_starts = np.flatnonzero(pchange)
            tfs = (np.r_[p_starts[1:], total] - p_starts).astype(np.uint64)
            docs = doc_s[p_starts]
            post_tcode = tcode_s[p_starts]
            shards = docs >> shard_shift
            n_post = len(p_starts)
            # run boundaries where (term, shard) changes — shard is
            # monotone in doc within a term, so runs are contiguous
            change = np.ones(n_post, dtype=bool)
            change[1:] = (post_tcode[1:] != post_tcode[:-1]) | (
                shards[1:] != shards[:-1]
            )
            starts = np.flatnonzero(change)
            lens = np.r_[starts[1:], n_post] - starts
            gaps = segment_delta_gaps(docs, starts)
            docs_buf, docs_sz = vbyte_encode_arrays(gaps)
            tfs_buf, tfs_sz = vbyte_encode_arrays(tfs)
            if store_positions:
                # per-posting delta restart (first absolute); a run's
                # byte span starts at its first posting's first token
                pos_gaps = segment_delta_gaps(flat_pos[order], p_starts)
                pos_buf, pos_sz = vbyte_encode_arrays(pos_gaps)
                pos_col = segment_binary(pos_buf, pos_sz, p_starts[starts])
            else:
                pos_col = pa.nulls(len(starts), pa.binary())
            yield pa.RecordBatch.from_arrays(
                [
                    uniq_sorted.take(pa.array(post_tcode[starts])),
                    pa.array(shards[starts], type=pa.int64()),
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    segment_binary(docs_buf, docs_sz, starts),
                    segment_binary(tfs_buf, tfs_sz, starts),
                    pos_col,
                ],
                names=["term", "shard_id", "n_docs",
                       "docs_vb", "tfs_vb", "pos_vb"],
            )

    return gen


_BLOCK_COLS = [
    "term", "shard_id", "block_id", "n_docs", "first_doc", "sum_tf",
    "docs_vbyte", "tfs_vbyte", "pos_vbyte",
]


def _make_merge_gen(params: BuildParams,
                    tombstones: "tuple | None" = None):
    """Stage-2 kernel: a PARTITION-WISE merge over runs sorted so every
    (term, shard_id) group is contiguous within its partition (the
    build sorts (shard_id, term); the gen only needs group contiguity).

    ``tombstones`` — (sorted int64 doc ids, per-id max delete seq) —
    physically PURGES dead copies while re-blocking: a posting from a run
    with group seq g is dead iff its id has a tombstone with del_seq >= g
    (per-group semantics — a doc re-ingested after its delete keeps its
    newest copy; codecs.dead_mask). Requires a ``gseq`` int column on the
    runs. None for normal builds (no per-posting test at all).

    applyInPandas-per-group costs ~ms of pandas/scheduling overhead per
    group — at 160k (term, shard) groups that dominated the whole build
    (measured 36s of a 45s stage at sf0.1). Instead the runs are
    repartitioned on the group key and sorted within partitions; this
    generator streams Arrow record batches (mapInArrow, r07 — the
    mapInPandas shape paid an arrow->pandas conversion of every run row
    plus a bytes-object join per stream; here codecs.decode_blocks reads
    each binary column's data buffer zero-copy as the concatenated
    stream), carries the (possibly split) last group over to the next
    batch as a zero-copy table slice, and merges each group with plain
    numpy — per-group cost ~0.1ms."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs import decode_blocks

    bs = params.block_size

    def _flush_vectorized(n_rows: int, terms, shards, post,
                          g_row_starts) -> "pa.RecordBatch | None":
        """Merge vectorized ACROSS groups: one global (group, doc)
        lexsort replaces any per-(term, shard) loop, sum_tf comes from
        reduceat at block starts, and every vbyte stream is
        encoded in ONE call then offset-sliced per block. Byte-identical
        output to the former per-group path: segment_delta_gaps at block
        starts == per-block delta_encode, and slice boundaries land on
        the same per-value byte counts (pinned by
        tests/test_merge_positional_parity.py and the full-artifact hash
        check recorded in OPTIMIZATION_r07.md). ``terms`` is the Arrow
        string column — block terms come from a take, never per-row
        Python strings.

        ``post`` (codecs.Postings, dead copies already purged) holds the
        batch's token positions in PRE-SORT posting order; the posting
        permutation is applied to the ragged stream with one global
        gather, the delta restart runs once over posting-start
        boundaries, and blocks slice the single encoded stream at block
        token boundaries."""
        from .codecs import segment_delta_gaps, vbyte_encode_arrays

        docs_all, tfs_all, pos_all = post.ids, post.tfs, post.pos
        g_of_row = np.zeros(n_rows, dtype=np.int64)
        g_of_row[g_row_starts] = 1
        g_of_row = np.cumsum(g_of_row) - 1
        pg = np.repeat(g_of_row, np.diff(post.row_off))
        if not len(docs_all):
            return None
        order = np.lexsort((docs_all, pg))
        d = docs_all[order]
        t_ = tfs_all[order]
        pg_s = pg[order]
        same_g = pg_s[1:] == pg_s[:-1]
        bad = same_g & (np.diff(d) <= 0)
        if bad.any():
            g_bad = int(pg_s[int(np.flatnonzero(bad)[0])])
            term_bad = terms[int(g_row_starts[g_bad])].as_py()
            raise ValueError(
                f"duplicate doc_id in postings of term={term_bad!r}"
            )
        n = len(d)
        g_start_idx = np.flatnonzero(np.r_[True, ~same_g])
        g_counts = np.diff(np.r_[g_start_idx, n])
        pos_in_g = np.arange(n, dtype=np.int64) - np.repeat(
            g_start_idx, g_counts
        )
        b_starts = np.flatnonzero(pos_in_g % bs == 0)
        bg = pg_s[b_starts]
        first_rows = g_row_starts[bg]
        gaps_b = segment_delta_gaps(d, b_starts)
        docs_buf, docs_sz = vbyte_encode_arrays(gaps_b)
        tfs_buf, tfs_sz = vbyte_encode_arrays(t_.astype(np.uint64))
        if pos_all is not None:
            # apply the posting permutation to the ragged position
            # stream: posting i's slice [old_start[i], old_start[i]+tf)
            # moves as a unit
            c = tfs_all  # pre-sort order
            old_tok_starts = np.cumsum(c) - c
            c_p = c[order]
            new_tok_starts = np.cumsum(c_p) - c_p
            within = np.arange(int(c_p.sum()), dtype=np.int64) - np.repeat(
                new_tok_starts, c_p
            )
            pos_sorted = pos_all[np.repeat(old_tok_starts[order], c_p) + within]
            pos_gaps = segment_delta_gaps(pos_sorted, new_tok_starts)
            pos_buf, pos_sz = vbyte_encode_arrays(pos_gaps)
            pos_col = segment_binary(
                pos_buf, pos_sz, new_tok_starts[b_starts]
            )
        else:
            pos_col = pa.nulls(len(b_starts), pa.binary())
        return pa.RecordBatch.from_arrays(
            [
                terms.take(pa.array(first_rows)),
                pa.array(shards[first_rows], type=pa.int64()),
                pa.array((pos_in_g[b_starts] // bs).astype(np.int32)),
                pa.array(np.diff(np.r_[b_starts, n]).astype(np.int32)),
                pa.array(d[b_starts], type=pa.int64()),
                pa.array(np.add.reduceat(t_, b_starts), type=pa.int64()),
                segment_binary(docs_buf, docs_sz, b_starts),
                segment_binary(tfs_buf, tfs_sz, b_starts),
                pos_col,
            ],
            names=_BLOCK_COLS,
        )

    def _boundaries(tbl: "pa.Table", terms, shards):
        """Row mask of (term, shard) group starts."""
        n = tbl.num_rows
        change = np.ones(n, dtype=bool)
        if n > 1:
            t_neq = pc.not_equal(
                terms.slice(1), terms.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            change[1:] = t_neq | (shards[1:] != shards[:-1])
        return change

    def flush(tbl: "pa.Table") -> "pa.RecordBatch | None":
        terms = tbl.column("term").combine_chunks()
        shards = tbl.column("shard_id").to_numpy()
        # ONE decode per stream for the whole batch, dead copies purged
        post = decode_blocks(
            tbl.column("n_docs"), tbl.column("docs_vb"),
            tfs=tbl.column("tfs_vb"),
            pos=tbl.column("pos_vb") if params.store_positions else None,
            gseq=tbl.column("gseq") if tombstones is not None else None,
            tomb=tombstones,
        )
        g_row_starts = np.flatnonzero(_boundaries(tbl, terms, shards))
        return _flush_vectorized(
            tbl.num_rows, terms, shards, post, g_row_starts
        )

    def gen(batches):
        pending: "pa.Table | None" = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if pending is not None and pending.num_rows:
                tbl = pa.concat_tables([pending, tbl])
            if tbl.num_rows == 0:
                pending = None
                continue
            terms = tbl.column("term").combine_chunks()
            shards = tbl.column("shard_id").to_numpy()
            change = _boundaries(tbl, terms, shards)
            last_start = int(np.flatnonzero(change)[-1])
            pending = tbl.slice(last_start)
            if last_start == 0:
                continue
            out = flush(tbl.slice(0, last_start))
            if out is not None and out.num_rows:
                yield out
        if pending is not None and pending.num_rows:
            out = flush(pending)
            if out is not None and out.num_rows:
                yield out

    return gen


def build_postings(
    corpus: DataFrame, params: BuildParams, shard_shift: int
) -> DataFrame:
    """corpus (doc_id, text) -> block rows DataFrame (BLOCK_SCHEMA + term_bucket).

    The macro-aggregation — analog of the reference's whole-dataset index
    fold (faiss_gpu_index_cagra_builder.py:227-279): the stage-1 runs
    pipeline straight into merge_runs' exchange, so the corpus is
    tokenized exactly once."""
    n_parts = params.num_shards * params.salt_factor
    salted = corpus.select("doc_id", "text").repartition(
        n_parts, F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))
    )
    runs = salted.mapInArrow(
        _make_runs_gen(shard_shift, params.store_positions),
        schema=RUN_SCHEMA,
    )
    # Balance: num_shards*num_term_buckets hash keys over
    # max(num_shards, n_parts // 2) partitions — >= 2*buckets keys per
    # partition in expectation, and one key's bytes are bounded by
    # shard_span*avgdl/num_term_buckets, so no partition can exceed a
    # small multiple of the mean regardless of term skew.
    return merge_runs(runs, params, max(params.num_shards, n_parts // 2))


def merge_runs(runs: DataFrame, params: BuildParams, n_parts: int,
               tombstones: "tuple | None" = None) -> DataFrame:
    """Runs (RUN_SCHEMA columns [+ gseq]) -> block rows (BLOCK_SCHEMA +
    term_bucket): the merge plan shared by the build and compact_index.

    The exchange is a plain HASH repartition on exactly the two
    write-partition columns (shard_id, term_bucket): no child sampling,
    so the runs' producer executes once. Equal (shard_id, term) keys
    share a hash key, so every run group merges whole, and a write task
    owns whole (bucket, shard) combos, so the
    partitionBy("term_bucket", "shard_id") write stays shard-CLUSTERED
    with no extra shuffle. (History: repartitionByRange(shard_id, term)
    re-ran stage 1 for its sampling, 1.65x build wall; materializing the
    runs first cost −32% throughput and 2x peak RSS at sf0.1.)
    ``tombstones`` purges dead copies while re-blocking
    (_make_merge_gen)."""
    bucket = F.pmod(F.xxhash64("term"), F.lit(params.num_term_buckets))
    return (
        runs.repartition(n_parts, F.col("shard_id"), bucket)
        .sortWithinPartitions("shard_id", "term")
        .mapInArrow(_make_merge_gen(params, tombstones), schema=BLOCK_SCHEMA)
        .withColumn("term_bucket", bucket)
    )


# Physical postings layout generation. 2 (engine >= 0.8) added a shard_id
# directory level under each term_bucket: group=G/term_bucket=B/shard_id=S/
# — shard-CLUSTERED files, so a search task reads exactly its shard's
# blocks straight from shared storage (index_query's direct and
# side-direct plans: no scan->kernel exchange, no JVM->Python Arrow hop).
# 3 (engine >= 0.10) drops the per-posting doc-length stream and the block
# bound columns, and co-locates doc_stats by shard the same way
# (doc_stats/group=G/shard_id=S/): the kernels gather each doc's length
# from its shard's doc_stats rows. Search, appends and resumed builds
# refuse older layouts (mixed directory depths would also break Spark
# partition discovery); compaction rewrites the whole tree, so it is the
# one migration.
POSTING_LAYOUT = 3


def write_group_blocks(blocks: DataFrame, dest: str) -> None:
    """Write one lineage group's block rows, clustered by (term_bucket,
    shard_id) directories."""
    blocks.write.partitionBy("term_bucket", "shard_id").mode(
        "overwrite"
    ).parquet(dest)


def write_doc_stats(docs: DataFrame, dest: str, shard_shift: int) -> None:
    """Write one group's doc_stats rows under ``shard_id=S`` directories
    (shard_id = doc_id >> shard_shift, the postings' shard key), so a
    search task reads its shard's doc lengths without touching the rest."""
    docs.withColumn(
        "shard_id", F.shiftright(F.col("doc_id"), shard_shift)
    ).write.partitionBy("shard_id").mode("overwrite").parquet(dest)


def term_stats_from_blocks(blocks: DataFrame) -> DataFrame:
    """Global per-term stats from block METADATA only (no binary decode;
    Catalyst prunes the vbyte columns out of the scan)."""
    return blocks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
    )


class StageTimer:
    """Per-stage wall-clock metrics — analog of the reference's stage timing
    logs (core/tasks.py:142-196) persisted into the manifest."""

    def __init__(self) -> None:
        self.stages: dict[str, float] = {}

    def time(self, name: str):
        timer = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.t0 = time.time()
                return self_inner

            def __exit__(self_inner, *exc):
                timer.stages[name] = timer.stages.get(name, 0.0) + (
                    time.time() - self_inner.t0
                )
                return False

        return _Ctx()


def params_dict(params: BuildParams, stats: CorpusStats) -> dict:
    d = asdict(params)
    d.update(
        posting_layout=POSTING_LAYOUT,
        n_docs=stats.n_docs,
        avgdl=stats.avgdl,
        min_doc=stats.min_doc,
        max_doc=stats.max_doc,
        shard_shift=stats.shard_shift,
        shard_span=stats.shard_span,
        # audited shard-balance facts (provided-id quantile sharding) must
        # survive kill/resume: the admission check reads max_shard_docs
        extras=dict(stats.extras),
    )
    return d
