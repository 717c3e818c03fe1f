"""Minimum-should-match (min_match=) and boolean MUST_NOT (exclude=)
retrieval: rank-identity vs the pure-Python oracle across routes, plus
composition with filters, tombstones, prefix expansion, and each other.

Both generalize the mode='and' coverage machinery (reference analog:
the single top-k call of benchmarking/search/search_indices.py:30-39,
widened to the Lucene BooleanQuery surface a fulltext-tier user expects):
coverage keeps docs matching >= m distinct tokens; exclusion drops docs
containing any MUST_NOT token, with surviving scores bitwise unchanged.
"""

import pytest

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
    d = str(tmp_path_factory.mktemp("ixmx"))
    build_index(corpus, d, PARAMS, source_fingerprint="fixture60mx")
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


# --- minimum-should-match ---------------------------------------------------

def test_msm_rank_identical_both_routes(spark, built, oracle):
    ix = Index(spark, built)
    queries = make_queries(40)
    want = oracle.search_all(queries, k=K, min_match=2)
    assert want, "fixture queries must produce msm hits"
    for strategy in ("sharded", "blockmax"):
        got = index_search(ix, queries, k=K, min_match=2,
                           strategy=strategy).collect()
        _assert_rank_identical(got, want)


def test_msm_one_is_plain_or(spark, built):
    ix = Index(spark, built)
    queries = make_queries(20)
    want = index_search(ix, queries, k=K).collect()
    got = index_search(ix, queries, k=K, min_match=1).collect()
    _assert_rank_identical(
        got, [(r.query_id, r.rank, r.doc_id, r.score) for r in want]
    )


def test_msm_at_distinct_count_equals_and(spark, built, oracle):
    """min_match == the query's distinct-token count is mode='and'."""
    ix = Index(spark, built)
    queries = [(0, "w0100 w0200 w0005"), (1, "w0003 w0007 w0011")]
    want = index_search(ix, queries, k=K, mode="and").collect()
    got = index_search(ix, queries, k=K, min_match=3).collect()
    _assert_rank_identical(
        got, [(r.query_id, r.rank, r.doc_id, r.score) for r in want]
    )


def test_msm_unsatisfiable_query_dropped(spark, built):
    """A query with fewer corpus-present distinct tokens than min_match
    returns no rows; satisfiable queries are unaffected."""
    ix = Index(spark, built)
    got = index_search(
        ix,
        [(0, "w0100 zzabsentzz"), (1, "w0100 w0200"), (2, "w0100")],
        k=K, min_match=2,
    ).collect()
    assert {r.query_id for r in got} == {1}


def test_msm_scores_are_unchanged_or_scores(spark, built):
    ix = Index(spark, built)
    queries = make_queries(20)
    or_rows = {
        (r.query_id, r.doc_id): r.score
        for r in index_search(ix, queries, k=1000).collect()
    }
    msm_rows = index_search(ix, queries, k=1000, min_match=2).collect()
    assert msm_rows
    for r in msm_rows:
        assert or_rows[(r.query_id, r.doc_id)] == r.score


def test_msm_rejects_bad_compositions(spark, built):
    ix = Index(spark, built)
    q = [(0, "w0100 w0200")]
    with pytest.raises(ValueError, match="mode='or' only"):
        index_search(ix, q, min_match=2, mode="and")
    with pytest.raises(ValueError, match="sharded"):
        index_search(ix, q, min_match=2, strategy="exhaustive")
    with pytest.raises(ValueError, match=">= 1"):
        index_search(ix, q, min_match=0)
    with pytest.raises(ValueError, match="prefix expansion"):
        index_prefix_search(ix, [(0, "w01*")], min_match=2)
    # the SQL-oracle generator refuses the same inputs the engine does
    from sparkbm25.sqlgen import bm25_topk_sql

    for bad in (0, -1, 2.5):
        with pytest.raises(ValueError, match=">= 1"):
            bm25_topk_sql(q, min_match=bad)


# --- MUST_NOT exclusion -----------------------------------------------------

def test_exclude_rank_identical_both_routes(spark, built, oracle):
    ix = Index(spark, built)
    queries = make_queries(40)
    # exclude a head term from every 4th query (head terms are in most
    # docs, so the exclusion bites hard)
    excl = {qid: "w0001" for qid, text in queries
            if qid % 4 == 0 and "w0001" not in text.split()}
    want = oracle.search_all(queries, k=K, exclude=excl)
    assert want
    or_want = oracle.search_all(queries, k=K)
    assert want != or_want, "exclusion must change some result"
    for strategy in ("sharded", "blockmax"):
        got = index_search(ix, queries, k=K, exclude=excl,
                           strategy=strategy).collect()
        _assert_rank_identical(got, want)


def test_exclude_absent_token_is_noop(spark, built):
    ix = Index(spark, built)
    queries = make_queries(10)
    want = index_search(ix, queries, k=K).collect()
    got = index_search(ix, queries, k=K,
                       exclude={q: "zzabsentzz" for q, _ in queries}).collect()
    _assert_rank_identical(
        got, [(r.query_id, r.rank, r.doc_id, r.score) for r in want]
    )


def test_exclude_overlap_with_scored_raises(spark, built):
    ix = Index(spark, built)
    with pytest.raises(ValueError, match="both scores and excludes"):
        index_search(ix, [(0, "w0100 w0200")], exclude={0: "w0200"})


def test_exclude_term_scored_by_other_query(spark, built, oracle):
    """A term excluded in one query and scored by another exercises the
    kernel's both-roles read (positions from raw, column from w_of)."""
    ix = Index(spark, built)
    queries = [(0, "w0100 w0200"), (1, "w0005 w0011")]
    excl = {0: "w0005"}
    want = oracle.search_all(queries, k=K, exclude=excl)
    got = index_search(ix, queries, k=K, exclude=excl).collect()
    _assert_rank_identical(got, want)


def test_exclude_can_empty_a_query(spark, built, oracle):
    """Excluding a term that co-occurs with every match empties the
    query (head terms co-occur with everything in the fixture)."""
    ix = Index(spark, built)
    # every doc containing w0500 (a mid term) might also contain w0001;
    # construct the guarantee from the oracle instead of assuming
    victims = set(oracle.postings.get("w0500", {}))
    cover = [t for t, pl in oracle.postings.items()
             if victims and victims <= set(pl) and t != "w0500"]
    if not cover:
        pytest.skip("no covering term in fixture")
    got = index_search(ix, [(0, "w0500")], k=K,
                       exclude={0: cover[0]}).collect()
    assert got == []


def test_exclude_composes_with_msm(spark, built, oracle):
    ix = Index(spark, built)
    queries = make_queries(30)
    excl = {qid: "w0002" for qid, text in queries
            if "w0002" not in text.split()}
    want = oracle.search_all(queries, k=K, min_match=2, exclude=excl)
    got = index_search(ix, queries, k=K, min_match=2,
                       exclude=excl).collect()
    _assert_rank_identical(got, want)


def test_exclude_composes_with_where_filter(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    docs = corpus.withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de")
    )
    d = str(tmp_path / "ixfx")
    build_index(docs, d, BuildParams(
        num_shards=4, num_term_buckets=8, lineage_groups=2,
        doc_id_scheme="conv_seq", attr_cols=("lang",),
    ), source_fingerprint="mxf")
    ix = Index(spark, d)
    oracle = OracleIndex.build([(r.doc_id, r.text) for r in docs.collect()])
    allowed = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    queries = make_queries(20)
    excl = {qid: "w0003" for qid, text in queries
            if "w0003" not in text.split()}
    want = oracle.search_all(queries, k=K, allowed=allowed, exclude=excl)
    got = index_search(ix, queries, k=K, where={"lang": "en"},
                       exclude=excl).collect()
    _assert_rank_identical(got, want)


def test_exclude_with_tombstones(spark, corpus, tmp_path, oracle):
    """Exclusion composes with deletes: a deleted doc neither ranks nor
    needs excluding; exclusion positions come from the masked (live)
    decode. Tombstone semantics are Lucene's pre-compaction shape —
    frozen n_docs/avgdl/df, deleted docs merely excluded — so the
    oracle is the FULL-corpus index restricted to the alive set."""
    from sparkbm25.jobs import delete_docs

    d = str(tmp_path / "ixtx")
    build_index(corpus, d, PARAMS, source_fingerprint="mxt")
    all_ids = [r.doc_id for r in corpus.collect()]
    victims = all_ids[:25]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    alive = set(all_ids) - set(victims)
    queries = make_queries(20)
    excl = {qid: "w0004" for qid, text in queries
            if "w0004" not in text.split()}
    want = oracle.search_all(queries, k=K, allowed=alive, exclude=excl)
    got = index_search(ix, queries, k=K, exclude=excl).collect()
    _assert_rank_identical(got, want)


def test_msm_exclude_distributed_tombstones(spark, corpus, tmp_path,
                                            oracle, monkeypatch):
    """min_match and exclude under the DISTRIBUTED tombstone path
    (n_deleted > TOMBSTONE_BROADCAST_MAX, forced to 1): tombstones
    ride the side frame as kind=1 rows and must interact correctly with
    the coverage count and the exclusion positions, on both
    strategies."""
    import sparkbm25.jobs as J
    from sparkbm25.jobs import delete_docs

    d = str(tmp_path / "ixdtx")
    build_index(corpus, d, PARAMS, source_fingerprint="mxdt")
    all_ids = [r.doc_id for r in corpus.collect()]
    victims = all_ids[:10]
    delete_docs(spark, d, victims)
    monkeypatch.setattr(J, "TOMBSTONE_BROADCAST_MAX", 1)
    ix = Index(spark, d)
    alive = set(all_ids) - set(victims)
    queries = make_queries(15)
    excl = {qid: "w0006" for qid, text in queries
            if "w0006" not in text.split()}
    for strategy in ("sharded", "blockmax"):
        want = oracle.search_all(queries, k=K, allowed=alive, min_match=2)
        got = index_search(ix, queries, k=K, min_match=2,
                           strategy=strategy).collect()
        _assert_rank_identical(got, want)
        want = oracle.search_all(queries, k=K, allowed=alive, exclude=excl)
        got = index_search(ix, queries, k=K, exclude=excl,
                           strategy=strategy).collect()
        _assert_rank_identical(got, want)


def test_exclude_composes_with_prefix_search(spark, built, oracle):
    """Exclusion tokens are exact (never expanded); they ride through
    index_prefix_search's kwargs passthrough."""
    queries = [(0, "w01*"), (1, "w0200 w03*")]
    excl = {0: "w0777", 1: "w0778"}
    ix = Index(spark, built)
    got = index_prefix_search(ix, queries, k=K, max_expansions=6,
                              exclude=excl).collect()
    # oracle: prefix expansion then drop docs containing the excluded term
    out = []
    for qid, qtext in queries:
        ranked = oracle.search_prefix(qtext, k=10**9, max_expansions=6)
        ex = set(oracle.postings.get(excl[qid], {}))
        ranked = [(d, s) for d, s in ranked if d not in ex][:K]
        for rank, (doc_id, score) in enumerate(ranked, start=1):
            out.append((qid, rank, doc_id, score))
    _assert_rank_identical(got, out)


def test_exclude_own_expansion_of_prefix(spark, built, oracle):
    """Excluding one of a wildcard's own expansions is legitimate
    ("w07* minus w0777"): no overlap error, and every doc containing the
    excluded expansion is dropped."""
    stem = None
    for cand_stem in ("w07", "w01", "w02"):
        exps = sorted(t for t in oracle.postings if t.startswith(cand_stem))
        if len(exps) >= 2:
            stem, victim = cand_stem, exps[0]
            break
    if stem is None:
        pytest.skip("no multi-expansion stem in fixture")
    ix = Index(spark, built)
    got = index_prefix_search(ix, [(0, f"{stem}*")], k=K, max_expansions=32,
                              exclude={0: victim}).collect()
    ranked = oracle.search_prefix(f"{stem}*", k=10**9, max_expansions=32)
    ex = set(oracle.postings.get(victim, {}))
    want = [(0, rank, d, s) for rank, (d, s) in
            enumerate([(d, s) for d, s in ranked if d not in ex][:K], 1)]
    assert want, "exclusion-of-expansion fixture must keep some docs"
    _assert_rank_identical(got, want)


def test_exclude_rejects_exhaustive(spark, built):
    ix = Index(spark, built)
    with pytest.raises(ValueError, match="sharded"):
        index_search(ix, [(0, "w0100")], exclude={0: "w0001"},
                     strategy="exhaustive")


# --- round 6: the pruned (blockmax) strategy serves the boolean surfaces ----

def test_msm_exclude_blockmax_rank_identical(spark, built, oracle):
    """min_match / exclude / their composition on strategy='blockmax'
    must be bit-identical to 'sharded' — same kernels' canonical fold,
    pruned candidate generation."""
    ix = Index(spark, built)
    queries = make_queries(30)
    ex = {qid: queries[(i + 5) % len(queries)][1].split()[0]
          for i, (qid, _) in enumerate(queries[:10])}
    for kw in (
        {"min_match": 2},
        {"exclude": ex},
        {"min_match": 2, "exclude": ex},
        {"mode": "and", "exclude": ex},
        {"min_match": 2, "k1": 0.9, "b": 0.3},
    ):
        ref = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=K,
                                  strategy="sharded", **kw).collect()
        )
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=K,
                                  strategy="blockmax", **kw).collect()
        )
        assert got == ref, kw


def test_exclude_blockmax_with_where_filter(spark, corpus, tmp_path):
    """exclude + where= on blockmax rides the side-direct plan (WAND
    kernel) and must agree with sharded exactly."""
    d = str(tmp_path / "ixbwf")
    params = BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                         lineage_groups=3, doc_id_scheme="conv_seq",
                         attr_cols=("role",))
    from sparkbm25.fixtures import make_transcripts_pdf
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    build_index(df.select("doc_id", "text", "role"), d, params,
                source_fingerprint="bwf")
    ix = Index(spark, d)
    queries = make_queries(12)
    ex = {queries[0][0]: queries[4][1].split()[0]}
    kw = dict(k=K, where={"role": "user"}, exclude=ex, min_match=2)
    ref = sorted((r.query_id, r.rank, r.doc_id, r.score)
                 for r in index_search(ix, queries, strategy="sharded",
                                       **kw).collect())
    got = sorted((r.query_id, r.rank, r.doc_id, r.score)
                 for r in index_search(ix, queries, strategy="blockmax",
                                       **kw).collect())
    assert got == ref and ref
