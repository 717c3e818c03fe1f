"""Significant-terms aggregation: terms over-represented in a query's
top hits relative to the background corpus (the OpenSearch
`significant_terms` aggregation under its `sampler` shape — foreground
= the top-k_hits result set, the production posture because an
unbounded foreground is a full corpus re-scan).

Artifact-served like more-like-this: ONE `index_search` (either
route) supplies the foreground doc set, the stored text (store_text
doc_stats) supplies its terms, and the term_stats artifact supplies
background document frequencies — nothing re-reads the raw corpus at
query time (reference posture: the index answers all searches,
benchmarking/search/search_indices.py:30-39).

Scoring is the JLH heuristic over DISTINCT-doc rates (fg_rate =
fg_df / n_hits, bg_rate = df / n_docs):

    score = (fg_rate - bg_rate) * (fg_rate / bg_rate)

— pure rational arithmetic (+,-,*,/ only, one fixed expression tree),
so engine and SQL oracle produce BIT-identical doubles; terms with
fg_rate <= bg_rate are dropped (not "significant"). The query's own
tokens are excluded by default (they are trivially over-represented in
their own result set). Determinism end to end: the foreground set is
the engine's rank-identical top-k (total order score DESC, doc_id ASC),
ties in significance break term-ASC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .localrel import local_df
from .analysis import tokenize_py, tokens_col
from .jobs import Index


def index_significant_terms(
    ix: Index,
    queries: list[tuple[int, str]],
    k_hits: int = 50,
    max_terms: int = 10,
    min_df: int = 1,
    include_query_terms: bool = False,
) -> DataFrame:
    """Per query: the ``max_terms`` most significant terms of its top
    ``k_hits`` result docs — (query_id, term, fg_df, df, score) where
    fg_df counts foreground docs CONTAINING the term (distinct-doc,
    like df), df is the background document frequency from the
    term_stats artifact, and score is the JLH significance (module
    doc). ``min_df`` drops background-rare terms (noise guard);
    ``include_query_terms=True`` keeps the query's own tokens.

    Plan shape: one top-k search, a broadcast join of its <= k_hits *
    |queries| rows onto stored text, one explode/distinct/count, and a
    broadcast of the tiny foreground onto the term_stats scan — no
    corpus scan, no driver collect of doc contents."""
    if not (isinstance(k_hits, int) and k_hits >= 1):
        raise ValueError(f"k_hits must be an int >= 1, got {k_hits!r}")
    if not (isinstance(max_terms, int) and max_terms >= 1):
        raise ValueError(
            f"max_terms must be an int >= 1, got {max_terms!r}"
        )
    if not (isinstance(min_df, int) and min_df >= 1):
        raise ValueError(f"min_df must be an int >= 1, got {min_df!r}")
    from .index_query import index_search

    spark = ix.spark
    ds = ix.live_doc_stats()
    if "text" not in ds.columns:
        raise ValueError(
            "index was built without store_text; significant terms need "
            "the stored foreground text — rebuild with "
            "BuildParams(store_text=True)"
        )
    if ix.n_deleted():
        # background df/n come from the BUILD-time term_stats artifact,
        # which still counts tombstoned docs, while the foreground top-k
        # is live-masked — the JLH rates would silently diverge from the
        # live-corpus oracle (ADVICE r06). Refuse instead of drifting;
        # compaction rebuilds term_stats over the live corpus.
        raise ValueError(
            "significant terms assume a delete-free index (background "
            "df comes from build-time term_stats); run compact_index "
            "first to fold tombstones into the stats"
        )
    hits = index_search(ix, queries, k=k_hits).select("query_id", "doc_id")
    texts = ix.fetch_text(hits).select("query_id", "doc_id", "text")
    # foreground size per query (<= k_hits; short result lists shrink it)
    qn = texts.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    fg = (
        texts.select(
            "query_id",
            F.explode(F.array_distinct(tokens_col("text"))).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("fg_df"))
    )
    if not include_query_terms:
        own_rows = sorted({
            (qid, t) for qid, text in queries for t in tokenize_py(text)
        })
        if own_rows:
            own = local_df(
                spark, own_rows, "query_id int, term string"
            )
            fg = fg.join(F.broadcast(own), ["query_id", "term"],
                         "left_anti")
    bg = ix.term_stats().select("term", "df")
    if min_df > 1:
        bg = bg.filter(F.col("df") >= min_df)
    n = float(ix.n_docs)
    # fixed expression tree — bit-identical to the SQL oracle's
    fg_rate = F.col("fg_df").cast("double") / F.col("n_hits").cast("double")
    bg_rate = F.col("df").cast("double") / F.lit(n)
    scored = (
        bg.join(F.broadcast(fg), "term")
        .join(F.broadcast(qn), "query_id")
        .withColumn("score", (fg_rate - bg_rate) * (fg_rate / bg_rate))
        .filter(F.col("score") > 0.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_terms)
        .select("query_id", "term", "fg_df", "df", "score")
    )


def significant_terms_sql(
    queries: list[tuple[int, str]],
    k_hits: int = 50,
    max_terms: int = 10,
    min_df: int = 1,
    include_query_terms: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> str:
    """DuckDB oracle: the same top-k_hits foreground (shared bm25_topk
    SQL — rank-identity makes the doc sets equal), per-doc distinct
    terms, distinct-doc background df over the corpus, and the
    identical JLH expression tree; ties break term-ASC."""
    from .analysis import DUCKDB_TOKENS
    from .sqlgen import bm25_topk_sql, _values_clause

    base = bm25_topk_sql(queries, k=k_hits, table=table, id_col=id_col,
                         text_col=text_col)
    toks = DUCKDB_TOKENS.format(col=text_col)
    own_pred = ""
    if not include_query_terms:
        own_pred = (
            "\n  AND NOT EXISTS (SELECT 1 FROM qown o WHERE "
            "o.query_id = fg.query_id AND o.term = fg.term)"
        )
    return f"""
WITH base AS ({base}),
qq AS (SELECT * FROM {_values_clause(queries)}),
qown AS (
  SELECT DISTINCT query_id, t.term
  FROM qq, unnest({DUCKDB_TOKENS.format(col='query_text')}) AS t(term)
),
qn AS (SELECT query_id, count(*) AS n_hits FROM base GROUP BY 1),
fg AS (
  SELECT b.query_id, t.term, count(*) AS fg_df
  FROM base b
  JOIN {table} d ON d.{id_col} = b.doc_id,
  unnest(list_distinct({toks})) AS t(term)
  GROUP BY 1, 2
),
bg AS (
  SELECT t.term, count(*) AS df
  FROM {table}, unnest(list_distinct({toks})) AS t(term)
  GROUP BY 1
  HAVING count(*) >= {int(min_df)}
),
nn AS (SELECT count(*) AS n FROM {table}),
scored AS (
  SELECT fg.query_id, fg.term, fg.fg_df, bg.df,
         ((CAST(fg.fg_df AS DOUBLE) / CAST(qn.n_hits AS DOUBLE))
          - (CAST(bg.df AS DOUBLE) / CAST(nn.n AS DOUBLE)))
         * ((CAST(fg.fg_df AS DOUBLE) / CAST(qn.n_hits AS DOUBLE))
            / (CAST(bg.df AS DOUBLE) / CAST(nn.n AS DOUBLE))) AS score
  FROM fg
  JOIN bg ON bg.term = fg.term
  JOIN qn ON qn.query_id = fg.query_id
  CROSS JOIN nn
  WHERE 1 = 1{own_pred}
),
kept AS (SELECT * FROM scored WHERE score > 0.0)
SELECT query_id, term, fg_df, df, round(score, {round_dp}) AS score
FROM kept
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, term ASC) <= {int(max_terms)}
"""
