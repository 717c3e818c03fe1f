"""Top-k BM25 query engine — score-all DataFrame path.

The analog of the reference's search path (reference:
benchmarking/search/search_indices.py:13-55 — per-query ``index.search(q, k)``
returning distance-ordered ids). Two engine paths exist:

- ``score_all_topk`` (this module): no prebuilt index; tokenize-and-score the
  corpus declaratively. This is the correctness reference path and the one
  whose plan is fully SQL-expressible (driver oracle checks), and the shape
  Catalyst optimizes end-to-end: Arrow tf kernel → broadcast join with the
  (tiny) query-term side → hash aggregate → window top-k.
- ``index_search`` (sparkbm25.index_query): reads the prebuilt compressed
  posting index and folds each shard's decoded postings — the scale path.

Determinism contract (rank-identity with the oracle):
- duplicate query terms contribute once PER OCCURRENCE, and per-doc scores
  accumulate in query token order (canonical fold — the same bit-exact-tie
  guarantee the indexed kernel carries: two docs whose BM25 doubles
  are exactly equal must not rank-flip on a 1-ulp summation-order
  difference, the fuzz-seed-23 class)
- absent terms contribute nothing
- final order: score DESC, doc_id ASC (reference analog: faiss returns
  distance-ordered ids; search_indices.py:30-39)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .localrel import local_df
from .analysis import tokenize_py
from .bm25 import B, K1
from .bm25 import idf as idf_py
from .corpus import corpus_stats, doc_stats
from .kernels import doc_term_freqs


def query_occurrences_df(
    spark: SparkSession, queries: list[tuple[int, str]]
) -> DataFrame:
    """(query_id, term, qpos) — one row per query-term OCCURRENCE, qpos the
    token position. Tokenized driver-side (query sets are tiny; the
    reference also feeds queries one host-side array at a time,
    search_indices.py:30-33). Occurrence rows — not (term, qtf) counts —
    let the scorer fold per-doc contributions in query token order, which
    is what makes exact score ties bit-identical to the oracle (qtf*x vs
    x+x+x differ in the last ulp for qtf >= 3)."""
    rows = []
    for qid, qtext in queries:
        rows.extend(
            (qid, t, pos) for pos, t in enumerate(tokenize_py(qtext))
        )
    return local_df(spark, rows, "query_id int, term string, qpos int")


def canonical_score_sum() -> F.Column:
    """Per-doc score fold in query-occurrence order: sort the collected
    (qpos, contrib) structs and left-fold the doubles. Shared by score_all
    and the two plan-level indexed strategies so every engine path
    accumulates in EXACTLY the oracle's order (OracleIndex.score iterates
    tokenize_py(query) left to right) — bit-exact ties across all paths."""
    return F.aggregate(
        F.sort_array(F.collect_list(F.struct("qpos", "contrib"))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )


def tf_norm_col(avgdl: float, k1: float = K1, b: float = B) -> F.Column:
    """Catalyst tf_norm over columns (tf, doc_len) — pure +,*,/ double
    arithmetic, which IEEE-754 rounds identically in the JVM, numpy and
    CPython, so this sub-expression is bit-exact across all engine paths."""
    tf = F.col("tf").cast("double")
    return (
        tf
        * F.lit(k1 + 1.0)
        / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len").cast("double") / F.lit(avgdl))
        )
    )


def bm25_contrib_col(
    n_docs: int, avgdl: float, k1: float = K1, b: float = B
) -> F.Column:
    """Per-(query-term-OCCURRENCE, doc) contribution, pure Catalyst double
    arithmetic. Expects columns: df, tf, doc_len.

    CAVEAT (why only the lazy plan uses this): the JVM's Math.log and
    glibc's log both have a <=1-ulp error bound but round DIFFERENTLY on
    ~9% of idf inputs (measured), so an F.log-computed idf is not
    bit-identical to sparkbm25.bm25.idf. The default score_all path instead
    computes idf driver-side in Python over the collected (tiny) term-df
    map — see score_all — giving bit-exact scores vs the oracle.
    """
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    return idf * tf_norm_col(avgdl, k1, b)


def topk_window(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score) -> (query_id, rank, doc_id, score) top-k.

    Scales: the window partitions by query_id, so per-query state is the
    score list of matched docs for that query; Spark sorts within partition.
    For huge candidate sets per query, AQE handles partition sizing; a
    two-level top-k (per-shard limit k, then global) is used by the indexed
    path.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def score_all(
    corpus: DataFrame,
    queries: list[tuple[int, str]],
    n_docs: int | None = None,
    avgdl: float | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact BM25 scores for every (query, matching doc) pair.

    Plan: Arrow tf kernel over the corpus scan → broadcast-join the query
    occurrences (tiny side broadcast, no shuffle of the corpus stream) →
    per-term df via an aggregate over the matched subset only → idf
    computed DRIVER-side in Python over that tiny df map (bounded by the
    number of distinct query terms — JVM Math.log rounds differently from
    glibc log on ~9% of inputs, so idf must come from the same libm the
    oracle uses for bit-exact scores) → broadcast (term, idf) → Catalyst
    tf_norm (pure +,*,/ — bit-exact everywhere) → hash aggregate on
    (query_id, doc_id) with the canonical query-order fold.
    """
    spark = corpus.sparkSession
    if n_docs is None or avgdl is None:
        n_docs, avgdl = corpus_stats(doc_stats(corpus))
    qocc = query_occurrences_df(spark, queries)
    distinct_terms = qocc.select("term").distinct()

    tf = doc_term_freqs(corpus)
    # keep only postings of query terms; this is the only pass over the corpus
    matched = tf.join(F.broadcast(distinct_terms), "term")

    if not materialize:
        # fully lazy plan (no driver action; two passes over the tf kernel,
        # idf via F.log) — used for plan inspection in tests; the production
        # path below caches + checkpoints and computes idf driver-side
        term_df = matched.groupBy("term").agg(F.count("*").alias("df"))
        contrib = (
            matched.join(F.broadcast(term_df), "term")
            .join(F.broadcast(qocc), "term")
            .withColumn("contrib", bm25_contrib_col(n_docs, avgdl))
        )
        return contrib.groupBy("query_id", "doc_id").agg(
            canonical_score_sum().alias("score")
        )
    # ONE materialization (eager localCheckpoint) serves both consumers —
    # the df-count collect and the scoring join. The previous
    # cache + collect + checkpoint-scored + unpersist sequence ran ~3 extra
    # jobs whose fixed overhead dominated this query at 50k docs (r07
    # profile: the pieces cost 1.5 s, the composition 3.7 s); the scored
    # tail is now lazy, so the caller's single action executes it once.
    matched = matched.localCheckpoint(eager=True)
    # bounded collect: one row per distinct query term (same class of
    # bounded driver state as the query vectors themselves)
    df_rows = matched.groupBy("term").agg(F.count("*").alias("df")).collect()
    idf_df = local_df(
        spark, [(r.term, idf_py(r.df, n_docs)) for r in df_rows],
        "term string, idf double",
    )
    contrib = (
        matched.join(F.broadcast(idf_df), "term")
        .join(F.broadcast(qocc), "term")
        .withColumn("contrib", F.col("idf") * tf_norm_col(avgdl))
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        canonical_score_sum().alias("score")
    )


def score_all_topk(
    corpus: DataFrame, queries: list[tuple[int, str]], k: int = 10
) -> DataFrame:
    """Top-k per query: (query_id, rank, doc_id, score)."""
    return topk_window(score_all(corpus, queries), k)


def explain_scores(
    corpus: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """Per-term BM25 score breakdown for each top-k hit — the Lucene
    `explain` analog: one row per (query, hit, matched distinct term)
    carrying every input of that term's contribution.

    Columns: (query_id, rank, doc_id, term, qtf, tf, doc_len, df, idf,
    tf_norm, contrib) where contrib = qtf * idf * tf_norm and the doc's
    score is the sum of its contribs. idf/tf_norm/contrib are rounded to
    6dp (the cross-engine rounding contract every scored driver query
    uses: engine idf comes from CPython libm, the SQL oracle's from
    DuckDB ln — <= 1 ulp apart, absorbed by the shared rounding).

    Same plan family as score_all: one Arrow tf pass over the corpus,
    tiny broadcast joins for query terms / idf, ranks from the identical
    canonical-fold scoring, then the (small) top-k rows broadcast back
    onto the per-term contribution stream — no corpus shuffle."""
    spark = corpus.sparkSession
    if n_docs is None or avgdl is None:
        n_docs, avgdl = corpus_stats(doc_stats(corpus))
    qocc = query_occurrences_df(spark, queries)
    qt = qocc.groupBy("query_id", "term").agg(
        F.count("*").cast("long").alias("qtf")
    )
    distinct_terms = qocc.select("term").distinct()
    matched = doc_term_freqs(corpus).join(
        F.broadcast(distinct_terms), "term"
    )
    # same one-materialization shape as score_all (r07): the checkpoint
    # serves the df collect, the ranking pass and the breakdown join; the
    # output stays lazy for the caller's single action
    matched = matched.localCheckpoint(eager=True)
    df_rows = (
        matched.groupBy("term").agg(F.count("*").alias("df")).collect()
    )
    idf_df = local_df(
        spark, [(r.term, int(r.df), idf_py(r.df, n_docs)) for r in df_rows],
        "term string, df long, idf double",
    )
    occ_contrib = (
        matched.join(F.broadcast(idf_df.select("term", "idf")), "term")
        .join(F.broadcast(qocc), "term")
        .withColumn("contrib", F.col("idf") * tf_norm_col(avgdl))
    )
    scored = occ_contrib.groupBy("query_id", "doc_id").agg(
        canonical_score_sum().alias("score")
    )
    top = topk_window(scored, k).select("query_id", "rank", "doc_id")
    tfn = tf_norm_col(avgdl)
    return (
        matched.join(F.broadcast(idf_df), "term")
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(top), ["query_id", "doc_id"])
        .select(
            "query_id", "rank", "doc_id", "term",
            "qtf",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_len").cast("long").alias("doc_len"),
            "df",
            F.round("idf", 6).alias("idf"),
            F.round(tfn, 6).alias("tf_norm"),
            F.round(
                F.col("qtf").cast("double") * F.col("idf") * tfn, 6
            ).alias("contrib"),
        )
    )
