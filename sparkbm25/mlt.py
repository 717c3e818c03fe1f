"""More-like-this: find documents similar to given SOURCE documents.

The Lucene/OpenSearch `more_like_this` query analog (public semantics:
Lucene MoreLikeThis — select the source doc's most "interesting" terms,
then run them as a disjunctive scored query, excluding the source). The
reference engine serves similarity-by-example for vectors (one
index.search per query vector, benchmarking/search/search_indices.py:30-39);
this is its fulltext counterpart: the query IS a document already in the
corpus.

Term selection — cross-engine exact by construction:
    interest(term) = tf_d(term) * (n_docs - df + 0.5) / (df + 0.5)
the Robertson idf ODDS RATIO (the argument of BM25's log) times the
source-doc tf. Ordering by it is NOT generally the same as by tf*idf
(log compresses the rarity axis, so a high-tf common term can outrank a
low-tf rare one under the odds ratio and not under tf*idf both ways) —
it is its own member of the tf·idf family, chosen because it uses only
+,-,*,/ on exact-integer inputs: IEEE 754 specifies those operations
exactly (correctly rounded), unlike log, where DuckDB's and CPython's
libm round differently on ~9% of inputs (measured, query.py:94). A
1-ulp selection flip would swap WHICH terms form the query — a much
bigger blast radius than the 1-ulp score differences the 6dp rounding
contract absorbs — so the selection comparator must be bit-identical
across engines, and with this weight it is. Ties break on term ASC;
thresholds (`min_tf`, `min_df`) are integer compares. The top
`max_terms` terms per source doc, in (interest DESC, term ASC) order,
become the query's token sequence (qpos = selection rank, so every
engine path folds scores in the same canonical order).

Scoring is unchanged BM25 (standard contract: idf/avgdl global, rounded
to 6dp in the projection); the source doc itself is excluded from its
own result (standard MLT semantics — rank 1 would always be the source).

Two engine paths, mirroring bm25_topk's:

- :func:`more_like_this` — corpus-scan correctness reference. ONE pass
  over the corpus (the Arrow tf kernel) serves both the df lookup and
  the candidate postings (cached between the two uses, same discipline
  as query.score_all); driver state is bounded by the SOURCE docs'
  vocabulary (the like_ids list is host-side input, same class as query
  texts).
- :func:`index_more_like_this` — artifact-served: source texts from the
  stored-text doc_stats (store_text=True builds), df from the
  term_stats artifact via the driver-cached lookup, then ONE
  index_search at k+1 (every strategy/route available) and a window
  re-cut after dropping the source row. Zero corpus passes.

:func:`more_like_this_sql` is the DuckDB oracle for the driver gate.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .localrel import local_df
from .analysis import DUCKDB_TOKENS, tokenize_py
from .bm25 import idf as idf_py
from .bm25 import idf_sql, tf_norm_sql
from .corpus import corpus_stats, doc_stats
from .kernels import doc_term_freqs
from .query import canonical_score_sum, tf_norm_col, topk_window


def _validate(like_ids: list[int], max_terms: int, min_tf: int,
              min_df: int) -> list[int]:
    if not like_ids:
        raise ValueError("like_ids must be non-empty")
    ids = [int(i) for i in like_ids]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate like_ids: {sorted(ids)}")
    for name, v in (("max_terms", max_terms), ("min_tf", min_tf),
                    ("min_df", min_df)):
        if not isinstance(v, int) or v < 1:
            raise ValueError(f"{name} must be an int >= 1, got {v!r}")
    return ids


def interest_weight(tf: int, df: int, n_docs: int) -> float:
    """tf * odds-ratio idf — the EXACT expression the SQL oracle computes
    (same association order: multiply first, then divide; all inputs are
    exact doubles below 2^53, so the result is bit-identical)."""
    return tf * (n_docs - df + 0.5) / (df + 0.5)


def select_terms(
    src_tf: dict[int, dict[str, int]],
    dfs: dict[str, int],
    n_docs: int,
    max_terms: int,
    min_tf: int,
    min_df: int,
) -> dict[int, list[str]]:
    """Per source doc: top `max_terms` terms by (interest DESC, term ASC).

    A term missing from `dfs` has df = 0 in the visible corpus (possible
    under tombstones on the indexed path) and is skipped — it could match
    nothing."""
    sel: dict[int, list[str]] = {}
    for lid, counts in src_tf.items():
        cands = [
            (-interest_weight(tf, dfs[t], n_docs), t)
            for t, tf in counts.items()
            if tf >= min_tf and dfs.get(t, 0) >= min_df
        ]
        cands.sort()
        if cands:
            sel[lid] = [t for _w, t in cands[:max_terms]]
    return sel


def more_like_this(
    corpus: DataFrame,
    like_ids: list[int],
    k: int = 10,
    max_terms: int = 10,
    min_tf: int = 1,
    min_df: int = 1,
) -> DataFrame:
    """Corpus-scan MLT -> (like_id, rank, doc_id, score) top-k per source.

    Plan: Arrow tf kernel over the corpus scan, semi-joined (broadcast)
    to the source docs' term set — the only corpus pass, cached across
    its two consumers (per-term df, candidate postings) exactly like
    query.score_all; term selection driver-side over the bounded source
    vocabulary; then broadcast (term, idf) + (like_id, term, qpos) onto
    the cached postings, Catalyst tf_norm, canonical-fold aggregate,
    window top-k. A source doc absent from the corpus (or with no term
    passing the thresholds) contributes no rows."""
    ids = _validate(like_ids, max_terms, min_tf, min_df)
    spark = corpus.sparkSession
    n_docs, avgdl = corpus_stats(doc_stats(corpus))
    # source-doc term freqs: bounded collect (|like_ids| docs)
    src_rows = doc_term_freqs(
        corpus.filter(F.col("doc_id").isin(ids))
    ).collect()
    src_tf: dict[int, dict[str, int]] = {}
    for r in src_rows:
        src_tf.setdefault(int(r.doc_id), {})[r.term] = int(r.tf)
    if not src_tf:
        return _empty_result(spark)
    src_terms = sorted({t for c in src_tf.values() for t in c})
    terms_df = local_df(spark, [(t,) for t in src_terms], "term string")
    matched = doc_term_freqs(corpus).join(F.broadcast(terms_df), "term")
    matched.cache()
    try:
        # bounded collect: one row per distinct source-doc term
        dfs = {
            r.term: int(r.df)
            for r in matched.groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
        sel = select_terms(src_tf, dfs, n_docs, max_terms, min_tf, min_df)
        if not sel:
            return _empty_result(spark)
        qocc = local_df(
            spark,
            [
                (lid, t, pos)
                for lid, terms in sel.items()
                for pos, t in enumerate(terms)
            ],
            "like_id long, term string, qpos int",
        )
        sel_terms = sorted({t for terms in sel.values() for t in terms})
        idf_df = local_df(
            spark, [(t, idf_py(dfs[t], n_docs)) for t in sel_terms],
            "term string, idf double",
        )
        contrib = (
            matched.join(F.broadcast(idf_df), "term")
            .join(F.broadcast(qocc), "term")
            .filter(F.col("doc_id") != F.col("like_id"))
            .withColumn("contrib", F.col("idf") * tf_norm_col(avgdl))
        )
        scored = contrib.groupBy("like_id", "doc_id").agg(
            canonical_score_sum().alias("score")
        )
        out = topk_window(
            scored.withColumnRenamed("like_id", "query_id"), k
        ).withColumnRenamed("query_id", "like_id")
        out = out.localCheckpoint(eager=True)
    finally:
        matched.unpersist()
    return out


def _empty_result(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "like_id long, rank int, doc_id long, score double"
    )


def index_more_like_this(
    ix,
    like_ids: list[int],
    k: int = 10,
    max_terms: int = 10,
    min_tf: int = 1,
    min_df: int = 1,
    strategy: str = "sharded",
) -> DataFrame:
    """Artifact-served MLT: source text from the stored-text doc_stats,
    df from the term_stats artifact (driver-cached lookup — zero Spark
    jobs warm), candidates from ONE `index_search` at k+1 (either
    strategy), then drop each source's own row and re-cut ranks in
    a window over the <= k+1-row result. Rank-identical to
    :func:`more_like_this` on the same corpus (untombstoned; with
    tombstones df stays build-time global — the standard Lucene posture
    — while dead docs drop out of candidates).

    idf/avgdl come from the index manifest (build-time corpus stats),
    matching the corpus-scan path on the same data."""
    from .index_query import index_search

    ids = _validate(like_ids, max_terms, min_tf, min_df)
    ds = ix.live_doc_stats()
    if "text" not in ds.columns:
        raise ValueError(
            "index was built without store_text; more-like-this needs the "
            "stored source text — rebuild with BuildParams(store_text=True) "
            "or use the corpus-scan more_like_this()"
        )
    src_rows = (
        ds.filter(F.col("doc_id").isin(ids)).select("doc_id", "text").collect()
    )
    src_tf = {
        int(r.doc_id): dict(Counter(tokenize_py(r.text))) for r in src_rows
    }
    if not src_tf:
        return _empty_result(ix.spark)
    all_terms = sorted({t for c in src_tf.values() for t in c})
    stats = ix.term_stats_lookup(all_terms)
    dfs = {t: int(s[0]) for t, s in stats.items() if s is not None}
    sel = select_terms(src_tf, dfs, ix.n_docs, max_terms, min_tf, min_df)
    if not sel:
        return _empty_result(ix.spark)
    lids = sorted(sel)
    queries = [(i, " ".join(sel[lid])) for i, lid in enumerate(lids)]
    res = index_search(ix, queries, k=k + 1, strategy=strategy)
    pm = local_df(
        ix.spark, [(i, lid) for i, lid in enumerate(lids)],
        "query_id int, like_id long",
    )
    w = Window.partitionBy("like_id").orderBy(F.asc("rank"))
    return (
        res.join(F.broadcast(pm), "query_id")
        .filter(F.col("doc_id") != F.col("like_id"))
        .withColumn("new_rank", F.row_number().over(w))
        .filter(F.col("new_rank") <= k)
        .select(
            "like_id", F.col("new_rank").alias("rank"), "doc_id", "score"
        )
    )


def more_like_this_sql(
    like_ids: list[int],
    k: int = 10,
    max_terms: int = 10,
    min_tf: int = 1,
    min_df: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> str:
    """DuckDB oracle: same selection weight (pure +,-,*,/ — bit-identical,
    see module doc), same thresholds and (interest DESC, term ASC)
    row_number cut, then the standard BM25 scoring CTEs restricted to the
    selected terms with the source doc anti-filtered."""
    ids = _validate(like_ids, max_terms, min_tf, min_df)
    toks = DUCKDB_TOKENS.format(col=text_col)
    idf = idf_sql("tdf.df", "cs.n")
    tfn = tf_norm_sql("tf.tf", "dstats.dl", "cs.avgdl")
    vals = ", ".join(f"({i})" for i in ids)
    return f"""
WITH lids(like_id) AS (VALUES {vals}),
toks AS (SELECT {id_col} AS doc_id, {toks} AS ts FROM {table}),
dstats AS (SELECT doc_id, len(ts) AS dl FROM toks),
cs AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dstats),
src_terms AS (
  SELECT DISTINCT t.term
  FROM toks JOIN lids ON toks.doc_id = lids.like_id, unnest(ts) AS t(term)
),
tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM toks, unnest(ts) AS t(term)
  WHERE t.term IN (SELECT term FROM src_terms)
  GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sel AS (
  SELECT lids.like_id, tf.term,
         row_number() OVER (
           PARTITION BY lids.like_id
           ORDER BY (tf.tf * (cs.n - tdf.df + 0.5)) / (tdf.df + 0.5) DESC,
                    tf.term ASC
         ) AS sel_rank
  FROM tf
  JOIN lids ON tf.doc_id = lids.like_id
  JOIN tdf ON tdf.term = tf.term
  CROSS JOIN cs
  WHERE tf.tf >= {min_tf} AND tdf.df >= {min_df}
),
selk AS (SELECT like_id, term FROM sel WHERE sel_rank <= {max_terms}),
scores AS (
  SELECT selk.like_id, tf.doc_id, sum({idf} * {tfn}) AS score
  FROM tf
  JOIN selk ON selk.term = tf.term
  JOIN tdf ON tdf.term = tf.term
  JOIN dstats ON dstats.doc_id = tf.doc_id
  CROSS JOIN cs
  WHERE tf.doc_id != selk.like_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT like_id, doc_id, score,
         row_number() OVER (PARTITION BY like_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT like_id, rank, doc_id, round(score, {round_dp}) AS score
FROM ranked WHERE rank <= {k}
"""
