"""Arrow-vectorized kernels (the engine's "native" layer).

The reference's heavy kernels live in faiss C++/CUDA behind SWIG
(faiss_gpu_index_cagra_builder.py:227-279 build; search_indices.py:30-39
search); ours are numpy over Arrow batches — batch-level vectorized,
no per-row Python in the hot path (BASELINE.json input_hint requirement).
"""

from __future__ import annotations

import numpy as np

# output schema of doc_term_freqs
TF_SCHEMA = "doc_id long, doc_len int, term string, tf int"


def _tf_gen_arrow(batches):
    """doc_term_freqs kernel (mapInArrow): (doc_id, text) batches ->
    one (doc_id, doc_len, term, tf) row per distinct (doc, term). The
    token stream stays one Arrow buffer (analysis.tokenize_flat_arrow)
    and the vocabulary comes from dictionary_encode — no Python str
    object per token; tf is a run-length count over one (term, doc)
    lexsort. Row order is unspecified (every consumer aggregates or
    joins)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .analysis import tokenize_flat_arrow

    for rb in batches:
        if rb.num_rows == 0:
            continue
        flat, lens = tokenize_flat_arrow(rb.column(1))
        total = int(lens.sum())
        if total == 0:
            continue
        doc_ids = rb.column(0).to_numpy()
        flat_doc = np.repeat(doc_ids, lens)
        flat_dl = np.repeat(lens, lens)
        dic = pc.dictionary_encode(flat)
        codes = dic.indices.to_numpy().astype(np.int64)
        uniq = dic.dictionary
        order = np.lexsort((flat_doc, codes))
        c_s = codes[order]
        d_s = flat_doc[order]
        change = np.ones(total, dtype=bool)
        change[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
        starts = np.flatnonzero(change)
        tf = (np.r_[starts[1:], total] - starts).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(d_s[starts], type=pa.int64()),
                pa.array(
                    flat_dl[order][starts].astype(np.int32),
                    type=pa.int32(),
                ),
                uniq.take(pa.array(c_s[starts])),
                pa.array(tf, type=pa.int32()),
            ],
            names=["doc_id", "doc_len", "term", "tf"],
        )


def doc_term_freqs(corpus):
    """corpus (doc_id, text, ...) -> DataFrame(doc_id, doc_len, term, tf).

    Under-partitioned inputs are spread to cluster parallelism first: a
    small corpus arrives as one or two parquet splits and the whole tf
    kernel then runs on 1-2 cores (measured at 50k docs / local[32]: the
    score-all path was straggler-bound on a single scan task). The gate
    never fires once the scan itself produces >= defaultParallelism
    splits, so no shuffle is added at real scale."""
    sel = corpus.select("doc_id", "text")
    try:
        spark = corpus.sparkSession
        target = spark.sparkContext.defaultParallelism
        if sel.rdd.getNumPartitions() < target:
            sel = sel.repartition(target)
    except Exception:
        pass
    return sel.mapInArrow(_tf_gen_arrow, schema=TF_SCHEMA)
