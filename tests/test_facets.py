"""Faceted search (index_facets): per-query doc counts grouped by a
stored attribute over ALL docs matching >= 1 query token — the ES
terms-aggregation analog. Counts verified against a brute-force Python
oracle and the generated DuckDB SQL; compositions with where= filters,
per-group tombstones, k_facets capping, and NULL attribute values."""

import pytest
from pyspark.sql import functions as F

from sparkbm25.analysis import tokenize_py
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.facets import index_facets
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.jobs import Index, build_index

PARAMS = BuildParams(num_shards=5, salt_factor=2, num_term_buckets=8,
                     lineage_groups=2, doc_id_scheme="conv_seq",
                     attr_cols=("lang", "source"))


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_transcripts_pdf(70)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text").withColumn(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, "en")
        .when(F.col("doc_id") % 3 == 1, "de")
        .otherwise(F.lit(None).cast("string")),  # NULL facet group
    ).withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, "web").otherwise("chat"),
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixfacet"))
    build_index(corpus, d, PARAMS, source_fingerprint="facet70")
    return d


@pytest.fixture(scope="module")
def rows(corpus):
    return [(r.doc_id, r.text, r.lang, r.source) for r in corpus.collect()]


def _py_facets(rows, queries, attr_idx, allowed=None):
    """{(query_id, value): n_docs} — docs sharing >= 1 distinct token."""
    out = {}
    for qid, qtext in queries:
        toks = set(tokenize_py(qtext))
        if not toks:
            continue
        for r in rows:
            if allowed is not None and r[0] not in allowed:
                continue
            if toks & set(tokenize_py(r[1])):
                key = (qid, r[attr_idx])
                out[key] = out.get(key, 0) + 1
    return out


def _got_map(df):
    return {(r.query_id, r.value): r.n_docs for r in df.collect()}


def test_facets_match_python_oracle(spark, built, rows):
    ix = Index(spark, built)
    queries = make_queries(15)
    want = _py_facets(rows, queries, attr_idx=2)
    assert want, "fixture queries must match docs"
    got = _got_map(index_facets(ix, queries, by="lang"))
    assert got == want


def test_facets_second_attribute(spark, built, rows):
    ix = Index(spark, built)
    queries = make_queries(8)
    want = _py_facets(rows, queries, attr_idx=3)
    got = _got_map(index_facets(ix, queries, by="source"))
    assert got == want


def test_facets_with_where_filter(spark, built, rows):
    """where= restricts countable docs exactly like filtered search."""
    ix = Index(spark, built)
    queries = make_queries(10)
    allowed = {r[0] for r in rows if r[3] == "web"}
    want = _py_facets(rows, queries, attr_idx=2, allowed=allowed)
    got = _got_map(
        index_facets(ix, queries, by="lang", where={"source": "web"})
    )
    assert got == want


def test_facets_with_tombstones(spark, corpus, rows, tmp_path):
    from sparkbm25.jobs import delete_docs

    d = str(tmp_path / "ixfacetdel")
    build_index(corpus, d, PARAMS, source_fingerprint="facetdel")
    victims = sorted(r[0] for r in rows)[:20]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    queries = make_queries(10)
    want = _py_facets(
        rows, queries, attr_idx=2,
        allowed={r[0] for r in rows} - set(victims),
    )
    got = _got_map(index_facets(ix, queries, by="lang"))
    assert got == want


def test_facets_tombstone_mask(spark, corpus, rows, tmp_path):
    """Facets under the closure tombstone mask: the kernel masks dead
    copies at decode (the live side alone is not enough for a
    re-ingest's dead old postings, so the kernel's mask must engage)."""
    from sparkbm25.jobs import delete_docs

    d = str(tmp_path / "ixfacetdtx")
    build_index(corpus, d, PARAMS, source_fingerprint="facetdt")
    victims = sorted(r[0] for r in rows)[:15]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    queries = make_queries(10)
    want = _py_facets(
        rows, queries, attr_idx=2,
        allowed={r[0] for r in rows} - set(victims),
    )
    got = _got_map(index_facets(ix, queries, by="lang"))
    assert got == want


def test_facets_k_facets_cap(spark, built, rows):
    """k_facets keeps the deterministic top-N (n_docs DESC, value ASC)."""
    ix = Index(spark, built)
    queries = make_queries(6)
    full = _py_facets(rows, queries, attr_idx=2)
    got = _got_map(index_facets(ix, queries, by="lang", k_facets=1))
    for qid in {q for q, _ in full}:
        ranked = sorted(
            ((v, n) for (q, v), n in full.items() if q == qid),
            key=lambda kv: (-kv[1], kv[0] is None, kv[0] or ""),
        )
        assert got.get((qid, ranked[0][0])) == ranked[0][1]
        assert sum(1 for (q, _v) in got if q == qid) == 1


def test_facets_absent_token_and_validation(spark, built):
    ix = Index(spark, built)
    assert index_facets(ix, [(0, "zzabsentzz")], by="lang").count() == 0
    assert index_facets(ix, [(0, "")], by="lang").count() == 0
    with pytest.raises(ValueError, match="not stored"):
        index_facets(ix, [(0, "w0001")], by="nope")
    with pytest.raises(ValueError, match="k_facets"):
        index_facets(ix, [(0, "w0001")], by="lang", k_facets=0)


def test_facets_sql_oracle_parity(spark, built, rows):
    """The generated DuckDB facets SQL agrees with the engine (the
    driver-gate contract, locally) — including the NULL facet group."""
    import duckdb
    import pandas as pd

    from sparkbm25.sqlgen import facets_sql

    queries = make_queries(10)
    sql = facets_sql(queries, by="lang")
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]),
    )
    want = {
        (int(q), v): int(n) for q, v, n in con.execute(sql).fetchall()
    }
    ix = Index(spark, built)
    got = _got_map(index_facets(ix, queries, by="lang"))
    assert got == want


def test_facets_direct_vs_exchange_identical(spark, built, rows):
    """r06: the side-direct plan (blocks pyarrow-read in-task) must
    produce the brute-force oracle's counts, and its physical plan must
    exchange ONLY the side (one hashpartitioning for the applyInPandas,
    plus the final partial-sum agg) with no cogroup."""
    ix = Index(spark, built)
    queries = make_queries(10)
    got = _got_map(index_facets(ix, queries, by="lang"))
    assert got and got == _py_facets(rows, queries, attr_idx=2)
    plan = (
        index_facets(ix, queries, by="lang")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
