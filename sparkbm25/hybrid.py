"""Hybrid sparse+dense retrieval — reciprocal-rank fusion (RRF).

The reference serves pure vector search (faiss top-k per query,
benchmarking/search/search_indices.py:13-55); a fulltext engine pairs
that with BM25 and fuses the two ranked lists. This module implements
the standard fusion rule — RRF (Cormack, Clarke & Buettcher, SIGIR'09):

    rrf_score(d) = sum over legs L of  1 / (rrf_k + rank_L(d))

with a leg contributing 0 when the doc is outside its top-n. RRF is the
fusion used by every mainstream hybrid-search engine because it needs no
score normalization — only ranks — which also makes it exactly
SQL-expressible and bit-exact across engines:

Determinism contract:
- each leg's (query_id, doc_id, rank) list is itself rank-identical to
  the oracle (the BM25 and cosine legs are the hash-green `bm25_topk` /
  `ann_cosine_topk` machinery),
- rrf_score is a float64 sum of exact divisions 1/(rrf_k + rank) folded
  in leg order — IEEE-identical in Spark and DuckDB,
- final order: rrf_score DESC, doc_id ASC. Two docs each present in
  exactly one (different) leg at the same rank tie exactly; the doc_id
  tie-break decides identically everywhere.

Scale shape: each leg is its own already-scale-audited plan (indexed
BM25 = direct route, per-shard tops merged in the driver; dense = IVF
partition-pruned probes).
The fuse is a join of two k×|queries|-row frames — broadcast-sized for
any real query batch — plus one per-query window. Nothing here touches
the corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import sqlgen
from .localrel import local_df
from .pipeline import similarity
from .query import score_all_topk

RRF_K = 60  # the SIGIR'09 constant; larger damps rank-1 dominance


def rrf_fuse(
    legs: list[tuple[str, DataFrame]], k: int = 10, rrf_k: int = RRF_K
) -> DataFrame:
    """Fuse ranked legs into a top-k per query.

    Each leg is ``(name, df)`` with df columns (query_id, doc_id, rank)
    — rank 1-based within query. Returns (query_id, rank, doc_id,
    rrf_score, rank_<name>...) where rank_<name> is the doc's rank in
    that leg, 0 when absent (1-based ranks make 0 unambiguous; no nulls
    in the output, so the driver value-hash is stable).

    Plan: legs full-outer-join on (query_id, doc_id) — both sides are
    top-n cuts, i.e. at most n rows per query, so this never touches
    corpus-scale data — then one row_number window per query.
    """
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    names = [name for name, _ in legs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate leg names: {names}")
    joined: DataFrame | None = None
    for name, df in legs:
        leg = df.select(
            "query_id", "doc_id", F.col("rank").alias(f"rank_{name}")
        )
        joined = (
            leg
            if joined is None
            else joined.join(leg, ["query_id", "doc_id"], "full_outer")
        )
    for name in names:
        joined = joined.withColumn(
            f"rank_{name}", F.coalesce(F.col(f"rank_{name}"), F.lit(0))
        )
    # fold in leg order: (sparse + dense) and (dense + sparse) differ in
    # the last ulp only for 3+ legs; fixed order keeps any leg count
    # bit-identical to the oracle's same-order sum
    score: F.Column | None = None
    for name in names:
        term = F.when(
            F.col(f"rank_{name}") > 0,
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"rank_{name}")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    scored = joined.withColumn("rrf_score", score)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("rrf_score", 6).alias("rrf_score"),
            *[f"rank_{n}" for n in names],
        )
    )


def _probe_map_df(
    spark: SparkSession, queries: list[tuple[int, str, int]]
) -> DataFrame:
    return local_df(
        spark, [(qid, int(pid)) for qid, _t, pid in queries],
        "query_id int, query_vec_id long",
    )


def _dense_leg(
    dense_topk: DataFrame, probe_map: DataFrame
) -> DataFrame:
    """(query_vec_id, rank, vec_id, cos) -> (query_id, doc_id, rank).

    The probe map is tiny (one row per query) — broadcast, never a
    shuffle of the ranked side."""
    return dense_topk.join(F.broadcast(probe_map), "query_vec_id").select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    queries: list[tuple[int, str, int]],
    k: int = 10,
    n_each: int = 50,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid top-k over a corpus + aligned embedding table.

    ``queries``: (query_id, text, probe_vec_id) — the text feeds the
    BM25 leg over ``docs``; probe_vec_id names the query vector in
    ``emb`` for the cosine leg (the container has no embedding model, so
    query vectors are row lookups — the same convention as
    `ann_cosine_topk`). Legs are cut at top-``n_each`` before fusing.

    This is the correctness-reference composition (corpus-scan BM25 +
    exact cosine) — fully SQL-expressible via :func:`hybrid_rrf_sql`.
    The scale path is :func:`hybrid_rrf_topk_indexed`.
    """
    _validate_hybrid_queries(queries)
    sparse = score_all_topk(
        docs, [(qid, text) for qid, text, _p in queries], k=n_each
    ).select("query_id", "doc_id", "rank")
    probe_ids = sorted({int(pid) for _q, _t, pid in queries})
    dense_topk = similarity.cosine_topk(emb, probe_ids, k=n_each)
    dense = _dense_leg(dense_topk, _probe_map_df(docs.sparkSession, queries))
    return rrf_fuse([("sparse", sparse), ("dense", dense)], k=k, rrf_k=rrf_k)


def hybrid_rrf_topk_indexed(
    spark: SparkSession,
    ix,
    ann_index_dir: str,
    queries: list[tuple[int, str, int]],
    query_vecs: dict[int, list[float]],
    k: int = 10,
    n_each: int = 50,
    rrf_k: int = RRF_K,
    n_probe: int | None = None,
) -> DataFrame:
    """Hybrid top-k served entirely from persisted artifacts: the BM25
    leg from the posting index (`index_search`, exact dense fold) and
    the dense leg from the IVF artifact (`ann_index_search` —
    partition-pruned probes). ``query_vecs`` maps each probe_vec_id to
    its vector (host-side, one per query — the same bounded driver
    state as the query texts).

    With full probing (n_probe = n_centroids) this is rank-identical to
    :func:`hybrid_rrf_topk`; at partial probe the dense leg is ANN and
    the fusion inherits its recall (measured by `tune_n_probe`).
    """
    from .index_query import index_search

    _validate_hybrid_queries(queries)
    missing = {int(p) for _q, _t, p in queries} - {int(i) for i in query_vecs}
    if missing:
        raise ValueError(f"query_vecs missing probe ids: {sorted(missing)}")
    sparse = index_search(
        ix,
        [(qid, text) for qid, text, _p in queries],
        k=n_each,
    ).select("query_id", "doc_id", "rank")
    dense_topk = similarity.ann_index_search(
        spark,
        ann_index_dir,
        {int(p): query_vecs[int(p)] for _q, _t, p in queries},
        k=n_each,
        n_probe=n_probe,
    )
    dense = _dense_leg(dense_topk, _probe_map_df(spark, queries))
    return rrf_fuse([("sparse", sparse), ("dense", dense)], k=k, rrf_k=rrf_k)


def _validate_hybrid_queries(queries: list[tuple[int, str, int]]) -> None:
    if not queries:
        raise ValueError("queries must be non-empty")
    qids = [qid for qid, _t, _p in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_ids in hybrid queries")


def hybrid_rrf_sql(
    queries: list[tuple[int, str, int]],
    k: int = 10,
    n_each: int = 50,
    rrf_k: int = RRF_K,
    docs_table: str = "documents",
    emb_table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`hybrid_rrf_topk` — the two leg oracles
    (`sqlgen.bm25_topk_sql`, `similarity.cosine_topk_sql`) as CTEs, then
    the same fixed-order float64 RRF fold and (rrf_score DESC, doc_id)
    window. 1.0 is cast to DOUBLE explicitly (DuckDB parses the bare
    literal as DECIMAL, whose division semantics differ)."""
    _validate_hybrid_queries(queries)
    sparse_sql = sqlgen.bm25_topk_sql(
        [(qid, text) for qid, text, _p in queries], k=n_each, table=docs_table
    ).strip().rstrip(";")
    probe_ids = sorted({int(pid) for _q, _t, pid in queries})
    dense_sql = similarity.cosine_topk_sql(
        probe_ids, k=n_each, table=emb_table
    ).strip().rstrip(";")
    pm_values = ", ".join(f"({qid}, {int(pid)})" for qid, _t, pid in queries)
    one = "CAST(1.0 AS DOUBLE)"
    zero = "CAST(0.0 AS DOUBLE)"
    return f"""
WITH sparse AS ({sparse_sql}),
dense0 AS ({dense_sql}),
pm(query_id, query_vec_id) AS (VALUES {pm_values}),
dense AS (
  SELECT pm.query_id, d.vec_id AS doc_id, d.rank
  FROM dense0 d JOIN pm ON pm.query_vec_id = d.query_vec_id
),
fused AS (
  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
         COALESCE(s.doc_id, d.doc_id) AS doc_id,
         COALESCE(s.rank, 0) AS rank_sparse,
         COALESCE(d.rank, 0) AS rank_dense
  FROM sparse s FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
),
scored AS (
  SELECT query_id, doc_id, rank_sparse, rank_dense,
         (CASE WHEN rank_sparse > 0
               THEN {one} / ({rrf_k} + rank_sparse) ELSE {zero} END)
       + (CASE WHEN rank_dense > 0
               THEN {one} / ({rrf_k} + rank_dense) ELSE {zero} END)
         AS rrf_score
  FROM fused
),
ranked AS (
  SELECT query_id, doc_id, rrf_score, rank_sparse, rank_dense,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, round(rrf_score, 6) AS rrf_score,
       rank_sparse, rank_dense
FROM ranked WHERE rank <= {k}
"""
