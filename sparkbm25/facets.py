"""Faceted search: per-query document counts grouped by a stored
attribute, over ALL docs matching >= 1 query token (disjunctive match —
the candidate set of OR retrieval, not just the top-k page).

The Elasticsearch terms-aggregation analog (the reference service itself
exposes no aggregations — this widens SURVEY §2.5 T1 to the facet panel
every search UI over transcripts needs). Reference provenance for the
candidate-set semantics: the same match set OR scoring ranks,
benchmarking/search/search_indices.py:30-39.

Scale shape: the attribute side (doc_id -> value from live doc_stats)
groups by the doc-range shard key, and each group reads its shard's
posting blocks in-task (index_query's side-direct plan) — counting
happens inside the kernel, so a group emits at most |distinct values|
rows per query regardless of how many docs matched. The blocks never
shuffle; output is partial-aggregate-sized, no broadcast, no collect.
Composes with where=/where_expr (the side is pre-filtered, docs without
a side row can't be counted) and with per-group tombstones (dead copies
are masked at decode, exactly like the scoring kernels)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .analysis import tokenize_py
from .codecs import dead_mask, segment_delta_restore, vbyte_decode
from .jobs import Index

FACET_SCHEMA = "query_id int, value string, n_docs long"


def _facet_count_fn(q_tokens: dict[int, list[str]],
                    tombstones: "tuple | None" = None):
    """Per-shard facet kernel over (blocks, side) frames.

    Blocks: posting blocks (term, n_docs, docs_vbyte[, gseq]) of one
    doc-range shard. Side: this shard's rows — kind=0 attribute
    rows (doc_id, value) for docs eligible to be counted (live + passing
    any where= filter), kind=1 distributed tombstones (doc_id, seq)
    overriding the closure pair past TOMBSTONE_BROADCAST_MAX.

    Per query: matched ids = union of its present terms' (live) posting
    ids; counts = value_counts over the side values of the matched ids
    that HAVE a side row. Emits (query_id, value, n_docs) partials —
    final sums happen plan-side (groupBy over the tiny partials)."""

    def fn(blocks_pdf: pd.DataFrame,
           side_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int32"),
                "value": pd.Series(dtype="object"),
                "n_docs": pd.Series(dtype="int64"),
            }
        )
        if blocks_pdf.empty or side_pdf.empty:
            return empty
        kind = side_pdf["kind"].to_numpy()
        attr_rows = kind == 0
        if not attr_rows.any():
            return empty
        sids = side_pdf["doc_id"].to_numpy(dtype=np.int64)[attr_rows]
        vals = side_pdf["value"].to_numpy()[attr_rows]
        o = np.argsort(sids, kind="stable")
        sids, vals = sids[o], vals[o]
        tomb = tombstones
        tm = kind == 1
        if tm.any():
            t_ids = side_pdf["doc_id"].to_numpy(dtype=np.int64)[tm]
            t_seqs = side_pdf["seq"].to_numpy(dtype=np.int64)[tm]
            to = np.argsort(t_ids)
            tomb = (t_ids[to], t_seqs[to])
        spans = _live_term_spans(blocks_pdf, tomb)
        if spans is None:
            return empty

        rows_q, rows_v, rows_n = [], [], []
        for qid, toks in q_tokens.items():
            parts = [a for t in set(toks) for a in spans.get(t, ())]
            if not parts:
                continue
            matched = (
                parts[0] if len(parts) == 1 else np.unique(
                    np.concatenate(parts)
                )
            )
            pos = np.searchsorted(sids, matched)
            pos_c = np.minimum(pos, len(sids) - 1)
            valid = (pos < len(sids)) & (sids[pos_c] == matched)
            if not valid.any():
                continue
            vc = pd.Series(vals[pos[valid]]).value_counts(dropna=False)
            rows_q.append(np.full(len(vc), qid, dtype=np.int32))
            rows_v.append(vc.index.to_numpy(dtype=object))
            rows_n.append(vc.to_numpy(dtype=np.int64))
        if not rows_q:
            return empty
        v_out = np.concatenate(rows_v)
        # pandas value_counts surfaces NULL attrs as NaN; emit real None
        # so Spark's string column carries NULL, matching SQL GROUP BY
        v_out = np.array(
            [None if (v is None or v != v) else v for v in v_out],
            dtype=object,
        )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(rows_q),
                "value": v_out,
                "n_docs": np.concatenate(rows_n),
            }
        )

    return fn


def _stats_agg_fn(q_tokens: dict[int, list[str]],
                  tombstones: "tuple | None" = None):
    """Per-shard STATS kernel (ES stats-aggregation analog):
    same match computation as the facet kernel, but the side's kind=0
    rows carry a NUMERIC value and the emission is one partial
    (n, sum, min, max) row per query — final folds happen plan-side.
    Docs without a side row (NULL attr, filtered out) are not counted,
    matching the SQL oracle's inner join. float64 partial sums are
    EXACT for integer-valued attributes below 2^53 (the documented
    contract; float attributes may differ from a serial sum by ~1 ulp,
    absorbed by the driver's 6dp rounding)."""

    def fn(blocks_pdf: pd.DataFrame,
           side_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int32"),
                "n": pd.Series(dtype="int64"),
                "s": pd.Series(dtype="float64"),
                "mn": pd.Series(dtype="float64"),
                "mx": pd.Series(dtype="float64"),
            }
        )
        if blocks_pdf.empty or side_pdf.empty:
            return empty
        kind = side_pdf["kind"].to_numpy()
        attr_rows = kind == 0
        if not attr_rows.any():
            return empty
        sids = side_pdf["doc_id"].to_numpy(dtype=np.int64)[attr_rows]
        vals = side_pdf["value"].to_numpy(dtype=np.float64)[attr_rows]
        o = np.argsort(sids, kind="stable")
        sids, vals = sids[o], vals[o]
        tomb = tombstones
        tm = kind == 1
        if tm.any():
            t_ids = side_pdf["doc_id"].to_numpy(dtype=np.int64)[tm]
            t_seqs = side_pdf["seq"].to_numpy(dtype=np.int64)[tm]
            to = np.argsort(t_ids)
            tomb = (t_ids[to], t_seqs[to])
        spans = _live_term_spans(blocks_pdf, tomb)
        if spans is None:
            return empty
        rows = []
        for qid, toks in q_tokens.items():
            parts = [a for t in set(toks) for a in spans.get(t, ())]
            if not parts:
                continue
            matched = (
                parts[0] if len(parts) == 1 else np.unique(
                    np.concatenate(parts)
                )
            )
            pos = np.searchsorted(sids, matched)
            pos_c = np.minimum(pos, len(sids) - 1)
            valid = (pos < len(sids)) & (sids[pos_c] == matched)
            if not valid.any():
                continue
            v = vals[pos[valid]]
            rows.append((qid, len(v), float(v.sum()),
                         float(v.min()), float(v.max())))
        if not rows:
            return empty
        return pd.DataFrame(
            rows, columns=["query_id", "n", "s", "mn", "mx"]
        ).astype({"query_id": "int32", "n": "int64"})

    return fn


def _live_term_spans(blocks_pdf: pd.DataFrame, tomb: "tuple | None"):
    """Decode a group's posting blocks into {term: [live doc-id array per
    block]} — the shared match machinery of the facet/stats kernels
    (ids only; the tf streams never decode)."""
    n_arr = blocks_pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_arr.sum())
    if total == 0:
        return None
    seg_starts = np.cumsum(n_arr) - n_arr
    gaps = vbyte_decode(b"".join(blocks_pdf["docs_vbyte"]), total)
    all_ids = segment_delta_restore(gaps, seg_starts, n_arr)
    if tomb is not None and len(tomb[0]):
        gseqs = np.repeat(blocks_pdf["gseq"].to_numpy(np.int64), n_arr)
        alive = ~dead_mask(all_ids, gseqs, tomb[0], tomb[1])
    else:
        alive = None
    terms_arr = blocks_pdf["term"].to_numpy()
    spans: dict[str, list[np.ndarray]] = {}
    for i in range(len(blocks_pdf)):
        lo = int(seg_starts[i])
        hi = lo + int(n_arr[i])
        ids_i = all_ids[lo:hi]
        if alive is not None:
            ids_i = ids_i[alive[lo:hi]]
        if len(ids_i):
            spans.setdefault(terms_arr[i], []).append(ids_i)
    return spans


def _matched_agg_plan(
    ix: Index,
    queries: list[tuple[int, str]],
    value_col,
    kern_factory,
    out_schema: str,
    where: dict | None,
    where_expr,
    drop_null_value: bool = False,
):
    """Shared plan assembly for the match-set aggregations (facets /
    histogram / stats / cardinality / count): tokenize + merge dup query
    ids, build the attribute side (doc_id, shard_id, value, kind, seq)
    from live filtered doc_stats with ``value_col`` as the value
    expression, run the kernel on index_query's side-direct plan (the
    side grouped by shard, blocks pyarrow-read in-task), and return
    (partials DataFrame | None, empty DataFrame). Exact: every countable
    doc has a side row, so a shard absent from the side has nothing to
    count. ``drop_null_value`` excludes NULL attribute values from the
    side (ES histogram/stats ignore docs missing the field; facets keep
    a NULL bucket)."""
    # late imports: TOMBSTONE_BROADCAST_MAX must be read at call time
    # (tests lower it to force the distributed path), and the where=
    # contract is the one filtered search uses — shared helper
    from .index_query import _direct_side_fn, filtered_live_stats
    from .jobs import TOMBSTONE_BROADCAST_MAX
    from .xxhash64 import spark_pmod_bucket

    spark = ix.spark
    q_tokens: dict[int, list[str]] = {}
    for qid, text in queries:
        toks = tokenize_py(text)
        if toks:
            # duplicate query_ids merge their token lists (index_search
            # contract); duplicates within a query are harmless (set())
            q_tokens.setdefault(qid, []).extend(toks)
    empty = spark.createDataFrame([], out_schema)
    if not q_tokens:
        return None, empty
    terms = sorted({t for ts in q_tokens.values() for t in ts})
    buckets = sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in terms}
    )
    fm = ix.shard_file_map(buckets)  # refuses posting layout < 2
    side_src = filtered_live_stats(ix, where, where_expr)
    if drop_null_value:
        side_src = side_src.filter(value_col.isNotNull())

    n_del = ix.n_deleted()
    use_cotomb = n_del > TOMBSTONE_BROADCAST_MAX
    tomb = ix.tombstones_pair() if (n_del and not use_cotomb) else None
    val_type = side_src.select(value_col.alias("value")).schema[0].dataType
    side = side_src.select(
        "doc_id",
        F.shiftright("doc_id", ix.shard_shift).alias("shard_id"),
        value_col.alias("value"),
        F.lit(0).alias("kind"),
        F.lit(0).cast("long").alias("seq"),
    )
    if use_cotomb:
        side = side.unionByName(
            ix.tombstones_df().select(
                "doc_id",
                F.shiftright("doc_id", ix.shard_shift).alias("shard_id"),
                F.lit(None).cast(val_type).alias("value"),
                F.lit(1).alias("kind"),
                F.col("del_seq").alias("seq"),
            )
        )
    partials = side.groupBy("shard_id").applyInPandas(
        _direct_side_fn(
            kern_factory(q_tokens, tomb), ["term", "n_docs", "docs_vbyte"],
            terms, fm, need_gseq=n_del > 0,
        ),
        schema=out_schema,
    )
    return partials, empty


def _require_attr(ix: Index, name: str):
    ds_cols = ix.live_doc_stats().columns
    if name not in ds_cols:
        raise ValueError(
            f"attribute {name!r} not stored in this index's doc_stats "
            f"(build with BuildParams(attr_cols=...)); stored columns: "
            f"{sorted(ds_cols)}"
        )


def index_histogram(
    ix: Index,
    queries: list[tuple[int, str]],
    on: str,
    width: float,
    where: dict | None = None,
    where_expr=None,
) -> DataFrame:
    """Histogram aggregation over the match set (ES `histogram` /
    `date_histogram` analog): per query, doc counts in fixed-width
    buckets of a stored NUMERIC attribute — (query_id, bucket, n_docs)
    where bucket = floor(attr / width) * width (a long; docs with a
    NULL attribute are ignored, the ES missing-field default). Matching
    semantics, filters, routing, tombstones: exactly index_facets — the
    facet kernel runs unchanged over a bucket-valued side, so the plan
    exchanges only the (doc_id, bucket) side.

    Reference analog: the reference service exposes no aggregations
    (SURVEY §2.5 widening, like facets); semantics follow OpenSearch's
    histogram aggregation."""
    if not (isinstance(width, (int, float)) and width > 0):
        raise ValueError(f"width must be a number > 0, got {width!r}")
    _require_attr(ix, on)
    bucket = (
        F.floor(F.col(on).cast("double") / F.lit(float(width)))
        * F.lit(float(width))
    ).cast("long")
    partials, empty = _matched_agg_plan(
        ix, queries, bucket, _facet_count_fn,
        "query_id int, value long, n_docs long",
        where, where_expr, drop_null_value=True,
    )
    if partials is None:
        return empty
    return (
        partials.groupBy("query_id", "value")
        .agg(F.sum("n_docs").alias("n_docs"))
        .withColumnRenamed("value", "bucket")
    )


def index_stats(
    ix: Index,
    queries: list[tuple[int, str]],
    on: str,
    where: dict | None = None,
    where_expr=None,
) -> DataFrame:
    """Stats aggregation over the match set (ES `stats` analog): per
    query, (query_id, n_docs, min_v, max_v, sum_v, avg_v) of a stored
    NUMERIC attribute over ALL docs matching >= 1 query token (NULL
    attrs ignored). Partial (n, sum, min, max) fold in the kernel, one
    tiny plan-side final fold — output is |queries| rows regardless of
    match volume. Sums are exact for integer-valued attributes below
    2^53 (f64 partials of integers); avg = sum/n of those exact
    doubles, so it is deterministic and oracle-identical for integer
    attributes. Composes with where=/where_expr/tombstones; same
    side-direct plan as facets."""
    _require_attr(ix, on)
    partials, empty = _matched_agg_plan(
        ix, queries, F.col(on).cast("double"), _stats_agg_fn,
        "query_id int, n long, s double, mn double, mx double",
        where, where_expr, drop_null_value=True,
    )
    if partials is None:
        return empty
    return partials.groupBy("query_id").agg(
        F.sum("n").alias("n_docs"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
        F.sum("s").alias("sum_v"),
        (F.sum("s") / F.sum("n")).alias("avg_v"),
    )


def index_cardinality(
    ix: Index,
    queries: list[tuple[int, str]],
    on: str,
    where: dict | None = None,
    where_expr=None,
) -> DataFrame:
    """Cardinality aggregation (ES `cardinality` analog, EXACT — no
    HyperLogLog: the kernel's per-group partials are already one row
    per DISTINCT (query, value), so the plan-side distinct count costs
    one shuffle of an attribute-bounded frame, not a doc-bounded one):
    per query, the number of distinct values of a stored attribute over
    all docs matching >= 1 query token — (query_id, n_values). NULL
    attrs are ignored (ES missing-field default). Composes with
    where=/tombstones; same side-direct plan as facets."""
    _require_attr(ix, on)
    partials, _empty = _matched_agg_plan(
        ix, queries, F.col(on).cast("string"), _facet_count_fn,
        "query_id int, value string, n_docs long",
        where, where_expr, drop_null_value=True,
    )
    if partials is None:
        return ix.spark.createDataFrame([], "query_id int, n_values long")
    return partials.groupBy("query_id").agg(
        F.countDistinct("value").alias("n_values")
    )


def index_count(
    ix: Index,
    queries: list[tuple[int, str]],
    where: dict | None = None,
    where_expr=None,
) -> DataFrame:
    """Match-count API (ES `_count` analog): per query, the number of
    live docs matching >= 1 query token — (query_id, n_docs) — under
    the same candidate semantics, filters, routing and tombstone
    masking as facets, without needing any stored attribute (the side
    carries a constant value; the kernel's partial is one row per
    query per shard)."""
    partials, _empty = _matched_agg_plan(
        ix, queries, F.lit("*"), _facet_count_fn,
        "query_id int, value string, n_docs long",
        where, where_expr,
    )
    if partials is None:
        return ix.spark.createDataFrame([], "query_id int, n_docs long")
    return partials.groupBy("query_id").agg(
        F.sum("n_docs").alias("n_docs")
    )


def index_facets(
    ix: Index,
    queries: list[tuple[int, str]],
    by: str,
    k_facets: int | None = None,
    where: dict | None = None,
    where_expr=None,
) -> DataFrame:
    """Per-query facet counts: (query_id, value, n_docs) where n_docs is
    the number of live docs matching >= 1 of the query's tokens whose
    stored attribute ``by`` equals ``value`` (NULL attrs count as the
    NULL facet). ``k_facets`` keeps each query's top-N values
    (deterministic: n_docs DESC, value ASC — the ES terms-agg order);
    ``where``/``where_expr`` restrict countable docs exactly like
    index_search's filtered retrieval.

    The attribute must be stored at build time
    (BuildParams(attr_cols=(by, ...))). A query with no corpus-present
    token yields no rows.

    The kernel rides the side-direct plan (r06): only the attribute
    side is exchanged (grouped on the shard key); each task
    pyarrow-reads its shard's posting blocks in-task, so the blocks
    never shuffle (_matched_agg_plan)."""
    _require_attr(ix, by)
    partials, empty = _matched_agg_plan(
        ix, queries, F.col(by).cast("string"), _facet_count_fn,
        FACET_SCHEMA, where, where_expr,
    )
    if partials is None:
        return empty
    out = partials.groupBy("query_id", "value").agg(
        F.sum("n_docs").alias("n_docs")
    )
    if k_facets is not None:
        if not isinstance(k_facets, int) or k_facets < 1:
            raise ValueError(
                f"k_facets must be an int >= 1, got {k_facets!r}"
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("n_docs"), F.asc_nulls_last("value")
        )
        out = (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_facets)
            .drop("rn")
        )
    return out
