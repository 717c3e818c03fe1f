"""Fuzzy search (index_fuzzy_search): edit-distance vocabulary expansion
with per-expansion idf, verified against the extended pure-Python oracle
(OracleIndex.search_fuzzy), the plain path at max_dist=0, route/strategy
agreement, filter composition, and the generated DuckDB SQL."""

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_fuzzy_search, index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex

K = 10
PARAMS = BuildParams(num_shards=5, salt_factor=2, num_term_buckets=8,
                     lineage_groups=2, doc_id_scheme="conv_seq")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixfz"))
    build_index(corpus, d, PARAMS, source_fingerprint="fuzzy60")
    return d


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])


def _typo_queries(oracle) -> list[tuple[int, str]]:
    """Single-edit typos of real vocabulary terms + edge cases."""
    terms = sorted(oracle.postings)
    a, b = terms[3], terms[11]
    return [
        (0, a[:-1]),                 # deletion typo
        (1, f"{a} {b[:-1]}x"),       # clean + substitution-ish typo
        (2, a[1:]),                  # head-deletion typo
        (3, "qqqqqqqqqq"),           # no neighbor within 1 edit
        (4, f"{a} {a}"),             # repeated token (qtf folding)
    ]


def _cmp(got_rows, want, rel=1e-9):
    got = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got_rows)
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=rel)


@pytest.mark.parametrize("cap", [None, 4])
def test_fuzzy_rank_identical(spark, built, oracle, cap):
    ix = Index(spark, built)
    queries = _typo_queries(oracle)
    want = []
    for qid, qtext in queries:
        for rank, (d, s) in enumerate(
            oracle.search_fuzzy(qtext, k=K, max_dist=1,
                                max_expansions=cap), 1,
        ):
            want.append((qid, rank, d, s))
    assert want
    got = index_fuzzy_search(ix, queries, k=K, max_dist=1,
                             max_expansions=cap).collect()
    _cmp(got, want)
    assert 3 not in {r.query_id for r in got}  # no-neighbor query empty


def test_fuzzy_dist0_is_plain_search(spark, built):
    ix = Index(spark, built)
    queries = make_queries(15)
    base = index_search(ix, queries, k=K).collect()
    got = index_fuzzy_search(ix, queries, k=K, max_dist=0).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_fuzzy_routes_and_strategies_agree(spark, built, oracle,
                                           monkeypatch):
    import sparkbm25.index_query as iq

    ix = Index(spark, built)
    queries = _typo_queries(oracle)[:3]

    def run(**kw):
        return sorted(map(tuple, index_fuzzy_search(
            ix, queries, k=K, max_dist=1, max_expansions=6,
            **kw).collect()))

    base = run()  # three queries: served in the driver
    others = {"blockmax": run(strategy="blockmax")}
    monkeypatch.setattr(iq, "_serve_in_driver", lambda *a: False)
    others["spark"] = run()
    for label, got in others.items():
        assert [g[:3] for g in got] == [b[:3] for b in base], label
        for g, b in zip(got, base):
            assert g[3] == pytest.approx(b[3], rel=1e-9)


def test_fuzzy_composes_with_filters_and_tuning(spark, corpus, oracle,
                                                tmp_path):
    from pyspark.sql import functions as F

    docs = corpus.withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    d = str(tmp_path / "ixfzf")
    build_index(docs, d, BuildParams(
        num_shards=4, num_term_buckets=8, lineage_groups=2,
        doc_id_scheme="conv_seq", attr_cols=("lang",),
    ), source_fingerprint="fzf")
    ix = Index(spark, d)
    allowed = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    queries = _typo_queries(oracle)[:2]
    want = []
    for qid, qtext in queries:
        ranked = [
            (doc, s) for doc, s in oracle.search_fuzzy(
                qtext, k=10**9, max_dist=1, k1=0.9, b=0.4,
            ) if doc in allowed
        ][:K]
        want += [(qid, r + 1, doc, s) for r, (doc, s) in enumerate(ranked)]
    got = index_fuzzy_search(ix, queries, k=K, max_dist=1,
                             where={"lang": "en"}, k1=0.9, b=0.4).collect()
    _cmp(got, want)


def test_fuzzy_validation(spark, built):
    from sparkbm25.sqlgen import fuzzy_topk_sql

    ix = Index(spark, built)
    with pytest.raises(ValueError, match="max_dist"):
        index_fuzzy_search(ix, [(0, "a")], max_dist=-1)
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_topk_sql([(0, "a")], max_dist=-1)


def test_fuzzy_sql_oracle_parity(spark, built, oracle, corpus):
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkbm25.sqlgen import fuzzy_topk_sql

    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    queries = _typo_queries(oracle)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = [
        (int(q), int(rk), int(d), float(s))
        for q, rk, d, s in con.execute(
            fuzzy_topk_sql(queries, k=K, max_dist=1, max_expansions=5)
        ).fetchall()
    ]
    ix = Index(spark, built)
    got = (
        index_fuzzy_search(ix, queries, k=K, max_dist=1, max_expansions=5)
        .withColumn("score", F.round("score", 6))
        .collect()
    )
    _cmp(got, want, rel=1e-6)
