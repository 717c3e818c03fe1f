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
  estimate, app/utils/memory.py:14-59). Range shards also give blocks tight
  ``first_doc/last_doc`` ranges for query-time skipping.
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
      doc_stats/group=G/               (doc_id, doc_len [, text])
      postings/group=G/term_bucket=B/shard_id=S/   block rows
                                       (BLOCK_SCHEMA; posting layout 2 —
                                       shard-clustered files; layout-1
                                       indexes lack the shard_id level)
      term_stats/                      (term, df, cf, max_tf_norm)
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
from .codecs import BLOCK_SIZE, vbyte_decode

RUN_SCHEMA = (
    "term string, shard_id long, n_docs int, "
    "docs_vb binary, tfs_vb binary, dls_vb binary, pos_vb binary"
)

# Block metadata carries BOTH the precomputed tf_norm bounds under the
# build-time (k1, b) — bit-exact fast path for default-parameter queries —
# and the RAW (max_tf, min_tf, min_dl, max_dl) integers, from which a
# sound upper/lower contribution bound is derivable at query time for ANY
# (k1, b) in range (tf_norm is monotone increasing in tf and decreasing
# in dl), so block-max pruning survives query-time parameter overrides.
# pos_vbyte (optional, BuildParams.store_positions) is the positional
# stream: per posting, its token positions as first-absolute + gaps
# varbyte, concatenated in posting order (tf values per posting).
BLOCK_SCHEMA = (
    "term string, shard_id long, block_id int, n_docs int, "
    "first_doc long, last_doc long, max_tf_norm double, min_tf_norm double, "
    "sum_tf long, max_tf long, min_tf long, min_dl long, max_dl long, "
    "docs_vbyte binary, tfs_vbyte binary, dls_vbyte binary, pos_vbyte binary"
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
    # materialize stage-1 SPIMI runs to staging parquet before the merge
    # exchange. OFF by default: the merge partitions by HASH on
    # (shard_id, term_bucket) — no sampling, so stage 1 runs exactly once
    # and pipelines straight into the shuffle (measured at sf0.1: the r05
    # spill cost −32% build throughput and 2× peak RSS vs this path).
    # Turn ON for very long builds on shared storage where a durable
    # stage boundary (resume the merge without re-tokenizing) is worth a
    # full extra write+read of the runs.
    spill_runs: bool = False

    def validate(self) -> None:
        if self.block_size < 8:
            raise ValueError("block_size must be >= 8")
        reserved = {"doc_id", "doc_len", "text", "group"}
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
    total_tokens: int = 0
    extras: dict = field(default_factory=dict)

    @property
    def shard_span(self) -> int:
        return 1 << self.shard_shift


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
        F.sum(F.size(tokens_col("text"))).alias("tot"),
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
        total_tokens=int(row.tot),
        extras=extras,
    )


def _make_runs_gen(shard_shift: int, store_positions: bool = False):
    """Stage-1 kernel: corpus batches -> COMPRESSED sorted runs per
    (term, shard).

    Vectorized end-to-end: tf via C-level groupby (_tf_batch), one sort by
    (term, shard, doc_id), boundary detection, then ONE varbyte encode call
    per stream for the whole batch with per-run byte slicing — runs ship at
    ~3-4 B/posting instead of 16 B raw, cutting the SPIMI shuffle ~4-5x
    (at 10^12 turns the runs shuffle is the dominant network cost).

    With ``store_positions`` the batch is instead flattened to one
    (term, doc, token_position) frame and lexsorted once — postings come
    out with their position lists attached (first-absolute + gaps varbyte
    per posting, ~1 B per token occurrence), still one encode call per
    stream."""
    from .codecs import (
        segment_delta_gaps,
        slice_bytes,
        vbyte_encode_with_sizes,
    )

    def gen(batches) -> "Iterator":
        # ARROW-NATIVE stage-1 kernel (r07; mapInArrow): the pandas shape
        # materialized a Python str object per token (concatenate of the
        # findall lists + pd.factorize over the object array) and sliced
        # every run's three vbyte streams into per-run Python bytes —
        # together ~40% of the stage's measured core time. Here the token
        # stream stays ONE Arrow buffer end to end: tokenize via Arrow
        # split (analysis.tokenize_flat_arrow — identical stream, ASCII
        # guarded), factorize via dictionary_encode (codes + unique terms,
        # no Python objects), rank the small vocabulary with an Arrow
        # string sort (tokens are pure [a-z0-9]+, so byte order == str
        # order == the former object argsort), and emit the run streams
        # as BinaryArrays whose offsets index straight into the single
        # encoded buffer (zero bytes-object per run). Values identical to
        # the former pandas kernel row for row.
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
            doc_ids = rb.column(0).to_numpy()
            flat_doc = np.repeat(doc_ids, lens_d)
            flat_dl = np.repeat(lens_d, lens_d)
            dic = pc.dictionary_encode(flat)
            codes = dic.indices.to_numpy().astype(np.int64)
            uniq = dic.dictionary
            order_u = pc.sort_indices(uniq).to_numpy().astype(np.int64)
            rank = np.empty(len(uniq), dtype=np.int64)
            rank[order_u] = np.arange(len(uniq), dtype=np.int64)
            tcode = rank[codes]
            uniq_sorted = uniq.take(pa.array(order_u))
            order = np.lexsort((flat_doc, tcode))
            tcode_s = tcode[order]
            doc_s = flat_doc[order]
            dl_s = flat_dl[order]
            # posting boundaries: (term, doc) change; tf = occurrences
            pchange = np.ones(total, dtype=bool)
            pchange[1:] = (tcode_s[1:] != tcode_s[:-1]) | (
                doc_s[1:] != doc_s[:-1]
            )
            p_starts = np.flatnonzero(pchange)
            tfs = (np.r_[p_starts[1:], total] - p_starts).astype(np.uint64)
            docs = doc_s[p_starts]
            dls = dl_s[p_starts].astype(np.uint64)
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
            dls_buf, dls_sz = vbyte_encode_arrays(dls)
            n_runs = len(starts)
            yield pa.RecordBatch.from_arrays(
                [
                    uniq_sorted.take(pa.array(post_tcode[starts])),
                    pa.array(shards[starts], type=pa.int64()),
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    segment_binary(docs_buf, docs_sz, starts),
                    segment_binary(tfs_buf, tfs_sz, starts),
                    segment_binary(dls_buf, dls_sz, starts),
                    pa.nulls(n_runs, pa.binary()),
                ],
                names=[
                    "term", "shard_id", "n_docs",
                    "docs_vb", "tfs_vb", "dls_vb", "pos_vb",
                ],
            )

    def gen_pos(batches) -> "Iterator":
        # Arrow-native positional stage-1 (r07; mapInArrow) — the same
        # conversion as `gen` (tokens stay one Arrow buffer,
        # dictionary_encode + byte-order vocabulary rank replaces
        # np.unique over an object array, run streams emitted as
        # zero-copy BinaryArrays), plus the per-posting position stream.
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
            doc_ids = rb.column(0).to_numpy()
            flat_doc = np.repeat(doc_ids, lens_d)
            flat_dl = np.repeat(lens_d, lens_d)
            tok_starts = np.cumsum(lens_d) - lens_d
            flat_pos = np.arange(total, dtype=np.int64) - np.repeat(
                tok_starts, lens_d
            )
            dic = pc.dictionary_encode(flat)
            codes = dic.indices.to_numpy().astype(np.int64)
            uniq_d = dic.dictionary
            order_u = pc.sort_indices(uniq_d).to_numpy().astype(np.int64)
            rank = np.empty(len(uniq_d), dtype=np.int64)
            rank[order_u] = np.arange(len(uniq_d), dtype=np.int64)
            tcode = rank[codes]
            uniq_sorted = uniq_d.take(pa.array(order_u))
            # one lexsort of the whole batch: (term, doc, position)
            order = np.lexsort((flat_pos, flat_doc, tcode))
            tcode_s = tcode[order]
            doc_s = flat_doc[order]
            dl_s = flat_dl[order]
            pos_s = flat_pos[order]
            # posting boundaries: (term, doc) change; tf = positions/posting
            pchange = np.ones(total, dtype=bool)
            pchange[1:] = (tcode_s[1:] != tcode_s[:-1]) | (
                doc_s[1:] != doc_s[:-1]
            )
            p_starts = np.flatnonzero(pchange)
            p_lens = np.r_[p_starts[1:], total] - p_starts
            post_doc = doc_s[p_starts]
            post_tf = p_lens.astype(np.uint64)
            post_dl = dl_s[p_starts].astype(np.uint64)
            post_tcode = tcode_s[p_starts]
            post_shard = post_doc >> shard_shift
            n_post = len(p_starts)
            # run boundaries over postings: (term, shard) change — shard is
            # monotone in doc (arithmetic >>), so runs are contiguous
            rchange = np.ones(n_post, dtype=bool)
            rchange[1:] = (post_tcode[1:] != post_tcode[:-1]) | (
                post_shard[1:] != post_shard[:-1]
            )
            r_starts = np.flatnonzero(rchange)
            r_lens = np.r_[r_starts[1:], n_post] - r_starts
            gaps = segment_delta_gaps(post_doc, r_starts)
            docs_buf, docs_sz = vbyte_encode_arrays(gaps)
            tfs_buf, tfs_sz = vbyte_encode_arrays(post_tf)
            dls_buf, dls_sz = vbyte_encode_arrays(post_dl)
            # positions: per-posting delta restart (first absolute)
            pos_gaps = segment_delta_gaps(pos_s, p_starts)
            pos_buf, pos_sz = vbyte_encode_arrays(pos_gaps)
            # position-stream run boundaries in TOKEN space (each run's
            # byte span covers all its postings' positions)
            tok_run_starts = p_starts[r_starts]
            yield pa.RecordBatch.from_arrays(
                [
                    uniq_sorted.take(pa.array(post_tcode[r_starts])),
                    pa.array(post_shard[r_starts], type=pa.int64()),
                    pa.array(r_lens.astype(np.int32), type=pa.int32()),
                    segment_binary(docs_buf, docs_sz, r_starts),
                    segment_binary(tfs_buf, tfs_sz, r_starts),
                    segment_binary(dls_buf, dls_sz, r_starts),
                    segment_binary(pos_buf, pos_sz, tok_run_starts),
                ],
                names=[
                    "term", "shard_id", "n_docs",
                    "docs_vb", "tfs_vb", "dls_vb", "pos_vb",
                ],
            )

    return gen_pos if store_positions else gen

_BLOCK_COLS = [
    "term", "shard_id", "block_id", "n_docs", "first_doc", "last_doc",
    "max_tf_norm", "min_tf_norm", "sum_tf",
    "max_tf", "min_tf", "min_dl", "max_dl",
    "docs_vbyte", "tfs_vbyte", "dls_vbyte", "pos_vbyte",
]


def _make_merge_gen(params: BuildParams, avgdl: float,
                    tombstones: "tuple | None" = None):
    """Stage-2 kernel: a PARTITION-WISE merge over runs sorted so every
    (term, shard_id) group is contiguous within its partition (layout 2
    sorts (shard_id, term); the gen only needs group contiguity).

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
    plus a bytes-object b"".join per stream; here each binary column's
    data buffer IS the concatenated stream, read zero-copy through the
    offsets), carries the (possibly split) last group over to the next
    batch as a zero-copy table slice, and merges each group with plain
    numpy — per-group cost ~0.1ms."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs import segment_delta_restore

    k1, b, bs = params.k1, params.b, params.block_size

    def _bin_stream(tbl: "pa.Table", name: str):
        """(stream bytes as one uint8 ndarray view, per-run byte counts)
        from a binary column — the column's Arrow data buffer holds all
        runs' bytes contiguously; the offsets vector IS the run length
        table. Handles sliced arrays (non-zero offset)."""
        col = tbl.column(name).combine_chunks()
        bufs = col.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int32)[
            col.offset:col.offset + len(col) + 1
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
            else np.zeros(0, dtype=np.uint8)
        return data[offs[0]:offs[-1]], np.diff(offs)

    def _flush_vectorized(n_rows: int, terms, shards, lens,
                          docs_all, tfs_all, dls_all,
                          g_row_starts, alive,
                          pos_all=None) -> "pa.RecordBatch | None":
        """Merge vectorized ACROSS groups: one global (group, doc)
        lexsort replaces any per-(term, shard) loop, block aggregates
        come from reduceat at block starts, and every vbyte stream is
        encoded in ONE call then offset-sliced per block. Byte-identical
        output to the former per-group path: segment_delta_gaps at block
        starts == per-block delta_encode, and slice boundaries land on
        the same per-value byte counts (pinned by
        tests/test_merge_positional_parity.py and the full-artifact hash
        check recorded in OPTIMIZATION_r07.md). ``terms`` is the Arrow
        string column — block terms come from a take, never per-row
        Python strings.

        ``pos_all``: the batch's token positions in PRE-SORT posting
        order; the posting permutation is applied to the ragged stream
        with one global gather, the delta restart runs once over
        posting-start boundaries, and blocks slice the single encoded
        stream at block token boundaries."""
        from .codecs import segment_delta_gaps, vbyte_encode_arrays

        g_of_row = np.zeros(n_rows, dtype=np.int64)
        g_of_row[g_row_starts] = 1
        g_of_row = np.cumsum(g_of_row) - 1
        pg = np.repeat(g_of_row, lens)
        if alive is not None:
            if pos_all is not None:
                # ragged purge: drop dead postings' position slices
                # (repeat uses the PRE-filter tf values)
                pos_all = pos_all[np.repeat(alive, tfs_all)]
            docs_all, tfs_all, dls_all, pg = (
                docs_all[alive], tfs_all[alive], dls_all[alive], pg[alive]
            )
        if not len(docs_all):
            return None
        order = np.lexsort((docs_all, pg))
        d = docs_all[order]
        t_ = tfs_all[order]
        l_ = dls_all[order]
        pg_s = pg[order]
        same_g = pg_s[1:] == pg_s[:-1]
        bad = same_g & (np.diff(d) <= 0)
        if bad.any():
            g_bad = int(pg_s[int(np.flatnonzero(bad)[0])])
            term_bad = terms[int(g_row_starts[g_bad])].as_py()
            raise ValueError(
                f"duplicate doc_id in postings of term={term_bad!r}"
            )
        tfn = (
            t_.astype(np.float64)
            * (k1 + 1.0)
            / (t_ + k1 * (1.0 - b + b * l_.astype(np.float64) / avgdl))
        )
        n = len(d)
        g_start_idx = np.flatnonzero(np.r_[True, ~same_g])
        g_counts = np.diff(np.r_[g_start_idx, n])
        pos_in_g = np.arange(n, dtype=np.int64) - np.repeat(
            g_start_idx, g_counts
        )
        b_starts = np.flatnonzero(pos_in_g % bs == 0)
        b_lens = np.diff(np.r_[b_starts, n])
        b_ends = b_starts + b_lens
        bg = pg_s[b_starts]
        first_rows = g_row_starts[bg]
        gaps_b = segment_delta_gaps(d, b_starts)
        docs_buf, docs_sz = vbyte_encode_arrays(gaps_b)
        tfs_buf, tfs_sz = vbyte_encode_arrays(t_.astype(np.uint64))
        dls_buf, dls_sz = vbyte_encode_arrays(l_.astype(np.uint64))
        if pos_all is not None:
            # apply the posting permutation to the ragged position
            # stream: posting i's slice [old_start[i], old_start[i]+tf)
            # moves as a unit
            c = tfs_all  # post-filter tf values, pre-sort order
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
                pa.array(b_lens.astype(np.int32)),
                pa.array(d[b_starts], type=pa.int64()),
                pa.array(d[b_ends - 1], type=pa.int64()),
                pa.array(np.maximum.reduceat(tfn, b_starts)),
                pa.array(np.minimum.reduceat(tfn, b_starts)),
                pa.array(np.add.reduceat(t_, b_starts), type=pa.int64()),
                pa.array(np.maximum.reduceat(t_, b_starts), type=pa.int64()),
                pa.array(np.minimum.reduceat(t_, b_starts), type=pa.int64()),
                pa.array(np.minimum.reduceat(l_, b_starts), type=pa.int64()),
                pa.array(np.maximum.reduceat(l_, b_starts), type=pa.int64()),
                segment_binary(docs_buf, docs_sz, b_starts),
                segment_binary(tfs_buf, tfs_sz, b_starts),
                segment_binary(dls_buf, dls_sz, b_starts),
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
        lens = tbl.column("n_docs").to_numpy().astype(np.int64)
        total = int(lens.sum())
        run_starts = np.r_[0, np.cumsum(lens)[:-1]]
        # ONE decode per stream for the whole batch — the binary column's
        # Arrow data buffer IS the concatenated stream
        docs_stream, _ = _bin_stream(tbl, "docs_vb")
        gaps = vbyte_decode(docs_stream, count=total)
        docs_all = segment_delta_restore(gaps, run_starts, lens)
        tfs_all = vbyte_decode(
            _bin_stream(tbl, "tfs_vb")[0], count=total
        ).astype(np.int64)
        dls_all = vbyte_decode(
            _bin_stream(tbl, "dls_vb")[0], count=total
        ).astype(np.int64)
        pos_all = None
        if params.store_positions:
            total_pos = int(tfs_all.sum())
            pos_gaps = vbyte_decode(
                _bin_stream(tbl, "pos_vb")[0], count=total_pos
            )
            post_tok_starts = np.cumsum(tfs_all) - tfs_all
            pos_all = segment_delta_restore(
                pos_gaps, post_tok_starts, tfs_all
            )
        change = _boundaries(tbl, terms, shards)
        g_row_starts = np.flatnonzero(change)
        alive = None
        if tombstones is not None and len(tombstones[0]):
            from .codecs import dead_mask

            gseqs = np.repeat(
                tbl.column("gseq").to_numpy().astype(np.int64), lens
            )
            alive = ~dead_mask(docs_all, gseqs, tombstones[0], tombstones[1])
        return _flush_vectorized(
            tbl.num_rows, terms, shards, lens, docs_all, tfs_all, dls_all,
            g_row_starts, alive, pos_all=pos_all,
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
    corpus: DataFrame, params: BuildParams, stats: CorpusStats,
    spill_dir: str | None = None,
) -> DataFrame:
    """corpus (doc_id, text) -> block rows DataFrame (BLOCK_SCHEMA + term_bucket).

    The macro-aggregation — analog of the reference's whole-dataset index
    fold (faiss_gpu_index_cagra_builder.py:227-279).

    ``spill_dir``: when ``params.spill_runs`` (or a caller forces it by
    passing a dir with the flag on), materialize the stage-1 runs there
    before the merge exchange — the classic disk-based SPIMI shape for
    very long builds on shared storage (a durable stage boundary: the
    merge can resume without re-tokenizing). The DEFAULT path skips it:
    the merge exchange is a plain HASH repartition on (shard_id,
    term_bucket) — no child sampling, so stage 1 executes exactly once
    and pipelines into the shuffle. (History: layout v2 first used
    repartitionByRange(shard_id, term), whose sampling re-ran stage 1 —
    1.65x build wall; the r05 spill fixed the double-compute but cost
    −32% throughput and 2x peak RSS at sf0.1. Hash on exactly the two
    write-partition columns needs neither: equal (shard_id, term) keys
    share a (shard_id, term_bucket) hash key, so every run group still
    merges whole, and a write task owns whole (bucket, shard) combos, so
    the partitionBy("term_bucket", "shard_id") write stays
    shard-CLUSTERED — layout 2 — with no extra shuffle.)"""
    n_parts = params.num_shards * params.salt_factor
    salted = corpus.select("doc_id", "text").repartition(
        n_parts, F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))
    )
    # stage-1 kernels are Arrow-native (r07): the token stream,
    # vocabulary, and run byte streams never become Python objects
    # (see _make_runs_gen.gen / gen_pos)
    runs = salted.mapInArrow(
        _make_runs_gen(stats.shard_shift, params.store_positions),
        schema=RUN_SCHEMA,
    )
    if spill_dir is not None and params.spill_runs:
        runs.write.mode("overwrite").parquet(spill_dir)
        # explicit schema: an empty group's spill dir has no footers
        runs = corpus.sparkSession.read.schema(RUN_SCHEMA).parquet(spill_dir)
    merged_parts = max(params.num_shards, n_parts // 2)
    # Balance: num_shards*num_term_buckets hash keys over merged_parts
    # (<= num_shards*salt_factor/2) partitions — >= 2*buckets keys per
    # partition in expectation, and one key's bytes are bounded by
    # shard_span*avgdl/num_term_buckets, so no partition can exceed a
    # small multiple of the mean regardless of term skew.
    bucket = F.pmod(F.xxhash64("term"), F.lit(params.num_term_buckets))
    blocks = (
        runs.repartition(merged_parts, F.col("shard_id"), bucket)
        .sortWithinPartitions("shard_id", "term")
        .mapInArrow(_make_merge_gen(params, stats.avgdl), schema=BLOCK_SCHEMA)
    )
    return blocks.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(params.num_term_buckets))
    )


# Physical postings layout generation. 2 (engine >= 0.8) adds a shard_id
# directory level under each term_bucket: group=G/term_bucket=B/shard_id=S/
# — shard-CLUSTERED files, so a search task can read exactly its shard's
# blocks straight from shared storage (index_query's direct and
# side-direct plans: no scan->kernel exchange, no JVM->Python Arrow hop).
# Search refuses layout 1 indexes (Index.shard_file_map); appends into
# them stay layout 1 (mixed directory depths would break Spark partition
# discovery), and compaction rewrites the whole tree so it upgrades to 2
# — the one migration.
POSTING_LAYOUT = 2


def write_group_blocks(
    blocks: DataFrame, dest: str, layout: int = POSTING_LAYOUT,
    mode: str = "overwrite",
) -> None:
    """Write one lineage group's block rows under the given layout."""
    cols = (
        ["term_bucket", "shard_id"] if layout >= 2 else ["term_bucket"]
    )
    blocks.write.partitionBy(*cols).mode(mode).parquet(dest)


def term_stats_from_blocks(blocks: DataFrame) -> DataFrame:
    """Global per-term stats from block METADATA only (no binary decode;
    Catalyst prunes the vbyte columns out of the scan)."""
    return blocks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.max("max_tf_norm").alias("max_tf_norm"),
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
        total_tokens=stats.total_tokens,
        # audited shard-balance facts (provided-id quantile sharding) must
        # survive kill/resume: the admission check reads max_shard_docs
        extras=dict(stats.extras),
    )
    return d
