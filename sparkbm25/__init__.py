"""sparkbm25 — PySpark-native inverted-index builder + BM25 top-k query engine.

A from-scratch transposition of the capabilities of
``opensearch-project/remote-vector-index-builder`` (an index-build-as-a-service
for vector ANN indexes; see /root/reference) into a full-text BM25 engine over
Iceberg/Parquet transcript tables, expressed Spark-first: DataFrame/SQL plans,
Arrow-vectorized kernels only where built-ins cannot express the semantics,
explicit skew handling, resumable manifest-driven builds.

Package layout
--------------
- ``analysis``   tokenization (built-in regexp path + Arrow pandas_udf path)
- ``bm25``       the scoring math shared by engine, oracle and SQL generators
- ``codecs``     delta-gap + variable-byte posting compression (numpy kernels)
- ``build``      distributed index construction (SPIMI via salted two-stage agg)
- ``query``      top-k BM25: score-all DataFrame path (``index_query``: the
                 prebuilt-index path)
- ``oracle``     transparent pure-Python reference engine (rank-identity oracle)
- ``fixtures``   deterministic synthetic transcript/query corpora (seed 42)
- ``jobs``       idempotent job manifests, per-partition lineage, resume
- ``pipeline``   training-data ops: dedup, similarity search, text stats,
                 multimodal column plumbing
"""

__version__ = "0.10.1"  # bump on ANY index-layout change (0.10.1: BuildParams drops the opt-in runs materialization field, so every job_id changes [no layout change, cache-key refresh]; 0.10: posting_layout 3 — doc lengths stored once per doc in shard-partitioned doc_stats, no per-posting dl stream, no block bound columns, no tf-norm bound in term_stats; 0.9.1: entry index stores n_chars for histogram/stats aggregations [no layout change, cache-key refresh]; 0.9: hash-partitioned merge default, runs no longer materialized, indexed BM25F + pruned boolean surfaces [no layout change, cache-key refresh]; 0.8: shard-clustered posting files [posting_layout 2] + direct no-exchange search route; 0.7: raw per-block tf and doc-length bounds + optional positional stream; 0.6: per-group tombstones)

K1 = 1.2
B = 0.75
