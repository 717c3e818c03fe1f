"""Term suggester (the OpenSearch `term` suggester, suggest_mode=
"always"): for each input token, the vocabulary terms within
``max_dist`` unit-cost edits, ranked (dist ASC, df DESC, term ASC) —
"did you mean", spell-correction over the index's OWN vocabulary.

Artifact-served: candidates come from `Index.fuzzy_expand` (the shared
vocabulary-expansion body behind fuzzy/prefix search — preloaded
driver cache for small vocabularies, a windowed Spark plan with the
length-difference prune before F.levenshtein for web-scale ones), so
no corpus scan and zero Spark jobs warm. The final ranking runs over
the expansion lists (a few hundred rows per token at dist <= 2 —
bounded by the edit-distance ball, the same driver-side class as
more-like-this term selection).

Determinism: distances and dfs are integers, the order is a total
order on (dist, -df, term), so engine and SQL oracle agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .localrel import local_df
from .analysis import levenshtein_py, tokenize_py
from .jobs import Index

SUGGEST_SCHEMA = (
    "token_id int, token string, rank int, suggestion string, "
    "dist int, df long"
)


def index_suggest(
    ix: Index,
    tokens: list[tuple[int, str]],
    max_dist: int = 2,
    n: int = 5,
) -> DataFrame:
    """Per input token: the top-``n`` vocabulary terms within
    ``max_dist`` edits, ranked dist ASC, df DESC, term ASC — (token_id,
    token, rank, suggestion, dist, df). A token with no in-ball
    vocabulary term yields no rows; the token itself appears at dist 0
    when indexed (suggest_mode="always"). Multi-word inputs are
    tokenized and each token suggests independently under its id."""
    if not (isinstance(n, int) and n >= 1):
        raise ValueError(f"n must be an int >= 1, got {n!r}")
    if not isinstance(max_dist, int) or max_dist < 0:
        raise ValueError(f"max_dist must be an int >= 0, got {max_dist!r}")
    pairs: list[tuple[int, str]] = []
    for tid, text in tokens:
        for t in tokenize_py(text):
            pairs.append((tid, t))
    stems = sorted({t for _tid, t in pairs})
    exp = ix.fuzzy_expand(stems, max_dist=max_dist) if stems else {}
    rows = []
    for tid, tok in sorted(set(pairs)):
        cands = [
            (levenshtein_py(term, tok), -df, term, df)
            for term, df in exp.get(tok, ())
        ]
        cands.sort()
        rows.extend(
            (tid, tok, r + 1, term, dist, df)
            for r, (dist, _negdf, term, df) in enumerate(cands[:n])
        )
    return local_df(ix.spark, rows, SUGGEST_SCHEMA)


def suggest_sql(
    tokens: list[tuple[int, str]],
    max_dist: int = 2,
    n: int = 5,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB oracle: the corpus vocabulary (distinct-doc df) joined to
    the input tokens on the same length-pruned levenshtein ball, ranked
    by the identical total order."""
    from .analysis import DUCKDB_TOKENS
    from .sqlgen import _values_clause

    if not isinstance(max_dist, int) or max_dist < 0:
        raise ValueError(f"max_dist must be an int >= 0, got {max_dist!r}")
    if not (isinstance(n, int) and n >= 1):
        raise ValueError(f"n must be an int >= 1, got {n!r}")
    toks = DUCKDB_TOKENS.format(col=text_col)
    return f"""
WITH q AS (SELECT * FROM {_values_clause(tokens)}),
qt AS (
  SELECT DISTINCT query_id AS token_id, t.term AS token
  FROM q, unnest({DUCKDB_TOKENS.format(col='query_text')}) AS t(term)
),
vocab AS (
  SELECT t.term, count(*) AS df
  FROM (SELECT list_distinct({toks}) AS ts FROM {table}) x,
       unnest(x.ts) AS t(term)
  GROUP BY 1
),
cand AS (
  SELECT qt.token_id, qt.token, v.term AS suggestion,
         levenshtein(v.term, qt.token) AS dist, v.df
  FROM qt JOIN vocab v
    ON abs(length(v.term) - length(qt.token)) <= {int(max_dist)}
   AND levenshtein(v.term, qt.token) <= {int(max_dist)}
)
SELECT token_id, token,
       row_number() OVER (PARTITION BY token_id, token
                          ORDER BY dist ASC, df DESC, suggestion ASC
                          ) AS rank,
       suggestion, dist, df
FROM cand
QUALIFY row_number() OVER (PARTITION BY token_id, token
                           ORDER BY dist ASC, df DESC, suggestion ASC
                           ) <= {int(n)}
"""
