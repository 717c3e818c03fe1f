"""Conjunctive (mode='and') and trailing-wildcard (prefix) search:
rank-identity vs the pure-Python oracle across strategies/routes, plus
composition with filters and tombstones.

The reference's query surface is a single top-k call per query
(benchmarking/search/search_indices.py:30-39); AND and prefix retrieval
are the fulltext-tier generalizations every search engine user expects
(Lucene BooleanQuery/PrefixQuery analogs), built here on the same
sharded kernels.
"""

import pytest

from sparkbm25.analysis import parse_prefix_query
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_prefix_search, index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex

K = 10
PARAMS = BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                     lineage_groups=3, doc_id_scheme="conv_seq")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixbp"))
    build_index(corpus, d, PARAMS, source_fingerprint="fixture60bp")
    return d


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])


def _assert_rank_identical(got_rows, want, rel=1e-9):
    got = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got_rows)
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=rel)


def test_and_mode_rank_identical_both_routes(spark, built, oracle):
    ix = Index(spark, built)
    queries = make_queries(40)
    want = oracle.search_all(queries, k=K, mode="and")
    assert want, "fixture queries must produce conjunctive hits"
    for strategy in ("sharded", "blockmax"):
        got = index_search(ix, queries, k=K, mode="and",
                           strategy=strategy).collect()
        _assert_rank_identical(got, want)


def test_and_mode_is_subset_of_or_with_equal_scores(spark, built, oracle):
    ix = Index(spark, built)
    queries = make_queries(20)
    or_rows = {
        (r.query_id, r.doc_id): r.score
        for r in index_search(ix, queries, k=1000).collect()
    }
    and_rows = index_search(ix, queries, k=1000, mode="and").collect()
    assert and_rows
    for r in and_rows:
        # an AND hit matched every term, so its OR score is bit-identical
        assert or_rows[(r.query_id, r.doc_id)] == r.score


def test_and_mode_absent_token_empties_query(spark, built):
    ix = Index(spark, built)
    got = index_search(
        ix, [(0, "w0100 zzabsentzz"), (1, "w0100")], k=K, mode="and"
    ).collect()
    assert {r.query_id for r in got} == {1}


def test_and_mode_with_filter(spark, corpus, tmp_path):
    """mode='and' composes with where= (coverage counted over the
    filtered candidates' postings, stats stay global)."""
    from pyspark.sql import functions as F

    docs = corpus.withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de")
    )
    d = str(tmp_path / "ixf")
    build_index(docs, d, BuildParams(
        num_shards=4, num_term_buckets=8, lineage_groups=2,
        doc_id_scheme="conv_seq", attr_cols=("lang",),
    ), source_fingerprint="bpf")
    ix = Index(spark, d)
    oracle = OracleIndex.build([(r.doc_id, r.text) for r in docs.collect()])
    allowed = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    queries = make_queries(20)
    want_or = oracle.search_all(queries, k=K, allowed=allowed)
    want = [
        row for row in oracle.search_all(queries, k=10**9, allowed=allowed,
                                         mode="and")
    ]
    got = index_search(ix, queries, k=10**9, mode="and",
                       where={"lang": "en"}).collect()
    _assert_rank_identical(got, want)
    assert want_or  # sanity: the filter itself matches something


def test_and_mode_refused_off_sharded(spark, built):
    ix = Index(spark, built)
    with pytest.raises(ValueError, match="sharded"):
        index_search(ix, [(0, "merge join")], mode="and",
                     strategy="exhaustive")
    with pytest.raises(ValueError, match="mode"):
        index_search(ix, [(0, "merge join")], mode="nor")


def test_and_mode_blockmax_rank_identical(spark, built, oracle):
    """mode='and' on strategy='blockmax' — bit-identical to sharded,
    including under a k1/b override."""
    ix = Index(spark, built)
    queries = make_queries(30)
    for kw in ({}, {"k1": 0.8, "b": 0.25}):
        ref = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=K, mode="and",
                                  strategy="sharded", **kw).collect()
        )
        assert ref
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=K, mode="and",
                                  strategy="blockmax", **kw).collect()
        )
        assert got == ref, kw


def test_parse_prefix_query():
    assert parse_prefix_query("merge jo*") == [
        ("merge", False), ("jo", True)]
    assert parse_prefix_query("a-b* c") == [
        ("a", False), ("b", True), ("c", False)]
    assert parse_prefix_query("*") == []
    assert parse_prefix_query("x**") == [("x", True)]
    assert parse_prefix_query("") == []


def test_prefix_search_rank_identical(spark, built, oracle):
    ix = Index(spark, built)
    queries = [
        (0, "w01*"),              # mid-size expansion
        (1, "w0100 w012*"),       # exact + prefix mix
        (2, "zzabsent*"),         # no expansion -> no rows
        (3, "w0100"),             # no wildcard: plain search semantics
        (4, "w010* w010*"),       # duplicated wildcard occurrence
    ]
    want = oracle.search_prefix_all(queries, k=K)
    got = index_prefix_search(ix, queries, k=K).collect()
    _assert_rank_identical(got, want)
    assert {r.query_id for r in got} >= {0, 1, 3}


def test_prefix_search_capped_expansion(spark, built, oracle):
    ix = Index(spark, built)
    queries = [(0, "w0*"), (1, "w01* sort")]
    want = oracle.search_prefix_all(queries, k=K, max_expansions=5)
    got = index_prefix_search(ix, queries, k=K, max_expansions=5).collect()
    _assert_rank_identical(got, want)


def test_prefix_search_strategies_agree(spark, built, oracle):
    """Prefix resolution feeds the ordinary kernels: both strategies
    must agree with the oracle."""
    ix = Index(spark, built)
    queries = [(0, "w01*"), (1, "w0100 w03*")]
    want = oracle.search_prefix_all(queries, k=K)
    for kw in ({"strategy": "blockmax"}, {}):
        got = index_prefix_search(ix, queries, k=K, **kw).collect()
        _assert_rank_identical(got, want)


def test_prefix_and_mode_refused(spark, built):
    ix = Index(spark, built)
    with pytest.raises(ValueError, match="prefix"):
        index_prefix_search(ix, [(0, "merge jo*")], mode="and")


def test_prefix_duplicate_qid_merges_like_index_search(spark, built):
    """A duplicated query_id merges its occurrences (index_search's
    behavior via occ.setdefault), instead of silently keeping only the
    last text."""
    from sparkbm25.index_query import index_search

    ix = Index(spark, built)
    got = index_prefix_search(
        ix, [(0, "w0100"), (0, "w0200")], k=K
    ).collect()
    want = index_search(ix, [(0, "w0100 w0200")], k=K).collect()
    _assert_rank_identical(
        got, [(r.query_id, r.rank, r.doc_id, r.score) for r in want]
    )


def test_prefix_with_k1_b_override(spark, built, oracle):
    """index_prefix_search forwards query-time k1/b to the kernels; the
    oracle composes them over the same expansion."""
    queries = [(0, "w01*"), (1, "w0100 w03*")]
    want = oracle.search_prefix_all(queries, k=K, max_expansions=6,
                                    k1=0.9, b=0.4)
    got = index_prefix_search(
        Index(spark, built), queries, k=K, max_expansions=6,
        k1=0.9, b=0.4,
    ).collect()
    _assert_rank_identical(got, want)


def test_prefix_expand_duplicate_stems_single_count(spark, built):
    """Repeated stems in the input must not double-append matches."""
    ix = Index(spark, built)
    once = ix.prefix_expand(["w01"], max_expansions=4)["w01"]
    twice = ix.prefix_expand(["w01", "w01"], max_expansions=4)["w01"]
    assert once == twice


def test_prefix_expand_spark_path_agrees(spark, built):
    """The big-vocabulary expansion path (windowed plan, no driver-side
    vocabulary) returns exactly what the preloaded-cache path returns."""
    ix = Index(spark, built)
    ix.STATS_PRELOAD_MAX_TERMS = 0  # force the plan path on this handle
    got = ix.prefix_expand(["w01", "merge"], max_expansions=4)
    want = Index(spark, built).prefix_expand(
        ["w01", "merge"], max_expansions=4
    )
    assert got == want


def test_prefix_expand_cap_order(spark, built):
    """The per-stem cap keeps the HIGHEST-df expansions (df desc, term
    asc), returned term-asc; each expansion is a (term, df) pair."""
    ix = Index(spark, built)
    full = ix.prefix_expand(["w0"])["w0"]
    capped = ix.prefix_expand(["w0"], max_expansions=3)["w0"]
    assert all(
        len(e) == 2 and ix.term_stats_lookup([e[0]]) == {e[0]: e[1]}
        for e in full
    )
    assert len(capped) == 3 and len(full) > 3
    by_rank = sorted(full, key=lambda e: (-e[1], e[0]))[:3]
    assert sorted(by_rank) == capped
    assert capped == sorted(capped)
