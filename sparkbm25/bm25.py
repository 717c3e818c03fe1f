"""BM25 scoring math — the single shared definition.

Engine (Spark expressions + Arrow kernels), oracle (pure Python) and the
DuckDB oracle-SQL generator all import THIS module, so there is exactly one
formula in the repo (SURVEY.md §7: "single shared scoring function imported by
both engine and oracle").

Formula (Lucene-classic, the variant OpenSearch uses by default — the
reference repo is an OpenSearch index builder):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm(t,d)= tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q,d)  = sum over query-term occurrences t of idf(t) * tf_norm(t, d)

Duplicate query terms contribute once per occurrence (multiplicity weight).
Defaults k1=1.2, b=0.75 fixed by BASELINE.json.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf(df_t: float, n_docs: float) -> float:
    return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def tf_norm(tf: float, doc_len: float, avgdl: float, k1: float = K1, b: float = B) -> float:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * doc_len / avgdl))


# --- SQL fragments (ANSI, valid in both Spark SQL and DuckDB) -------------
# Used by the engine's score-all plan (as Spark SQL expr) and by oracle_sql
# generators (DuckDB) so both execute literally the same arithmetic.

def idf_sql(df_col: str, n_docs: str) -> str:
    return f"ln(1.0 + ({n_docs} - {df_col} + 0.5) / ({df_col} + 0.5))"


def tf_norm_sql(tf_col: str, dl_col: str, avgdl_col: str, k1: float = K1, b: float = B) -> str:
    return (
        f"({tf_col} * ({k1} + 1.0) / "
        f"({tf_col} + {k1} * (1.0 - {b} + {b} * {dl_col} / {avgdl_col})))"
    )
