"""BM25F multi-field scoring: engine vs a transparent pure-Python oracle."""

import math

import pytest

from sparkbm25.analysis import tokenize_py
from sparkbm25.bm25f import TITLE_TOKENS, W_BODY, W_TITLE, bm25f_score_topk
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf

K = 10


def _py_bm25f(docs, queries, k, t=TITLE_TOKENS, wt=W_TITLE, wb=W_BODY,
              k1=1.2, b=0.75):
    toks = {i: tokenize_py(x) for i, x in docs}
    dlw = {
        i: wt * min(len(ts), t) + wb * max(len(ts) - t, 0)
        for i, ts in toks.items()
    }
    n = len(toks)
    avgdl = sum(dlw.values()) / n
    # weighted tf + df over any-field containment
    tfw: dict[str, dict[int, float]] = {}
    for i, ts in toks.items():
        for p, term in enumerate(ts):
            tfw.setdefault(term, {}).setdefault(i, 0.0)
            tfw[term][i] += wt if p < t else wb
    out = []
    for qid, qtext in queries:
        acc: dict[int, float] = {}
        for term in tokenize_py(qtext):
            plist = tfw.get(term)
            if not plist:
                continue
            df = len(plist)
            w = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i, f in plist.items():
                acc[i] = acc.get(i, 0.0) + w * (
                    f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dlw[i] / avgdl))
                )
        ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out += [(qid, r + 1, i, s) for r, (i, s) in enumerate(ranked)]
    return out


def test_bm25f_rank_identical_to_python_oracle(spark):
    pdf = make_transcripts_pdf(50)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    docs = [(r.doc_id, r.text) for r in corpus.collect()]
    queries = make_queries(20) + [(900, "w0001 w0001 w0002")]
    want = sorted(
        (q, rk, di, round(s, 9))
        for q, rk, di, s in _py_bm25f(docs, queries, K)
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25f_score_topk(corpus, queries, k=K).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_bm25f_title_boost_changes_ranking(spark):
    """A term hit in the first `title_tokens` tokens must outrank the same
    term equally frequent but later in an otherwise-identical doc."""
    rows = [
        (1, "zzterm " + "filler " * 20),          # title hit
        (2, "filler " * 20 + " zzterm"),           # body hit, same length
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25f_score_topk(corpus, [(0, "zzterm")], k=2).collect()
    order = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    assert order == [1, 2]


# --- round 6: BM25F served from the positional index ------------------------

@pytest.fixture(scope="module")
def f_built(spark, tmp_path_factory):
    from sparkbm25.build import BuildParams
    from sparkbm25.jobs import build_index

    pdf = make_transcripts_pdf(60)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    corpus.cache().count()
    d = str(tmp_path_factory.mktemp("ixf"))
    build_index(
        corpus, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=3, doc_id_scheme="conv_seq",
                    store_positions=True),
        source_fingerprint="bm25f60",
    )
    return corpus, d


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, r.score)
                  for r in df.collect())


def test_indexed_bm25f_bitexact_vs_corpus_scan(spark, f_built):
    """index_bm25f_search must be bit-identical to the corpus-scan path
    for integer-valued weights — split/weights/k1/b all query-time."""
    from sparkbm25.index_query import index_bm25f_search
    from sparkbm25.jobs import Index

    corpus, d = f_built
    ix = Index(spark, d)
    queries = make_queries(15) + [(901, "w0001 w0001 w0002")]
    for split, wt, wb, kw in (
        (TITLE_TOKENS, W_TITLE, W_BODY, {}),
        (4, 3.0, 1.0, {}),
        (TITLE_TOKENS, W_TITLE, W_BODY, {"k1": 0.9, "b": 0.3}),
    ):
        want = _rows(bm25f_score_topk(corpus, queries, k=K,
                                      title_tokens=split, w_title=wt,
                                      w_body=wb, **kw))
        for strategy in ("sharded", "blockmax"):
            got = _rows(index_bm25f_search(ix, queries, k=K,
                                           title_tokens=split, w_title=wt,
                                           w_body=wb, strategy=strategy,
                                           **kw))
            assert got == want, (split, wt, wb, kw, strategy)


def test_indexed_bm25f_composes_with_boolean_and_filterless(spark, f_built):
    """fields= composes with min_match / exclude through the same
    kernels: results equal the corpus-scan ranking filtered by the
    sharded path's own coverage/exclusion semantics."""
    from sparkbm25.index_query import index_bm25f_search, index_search
    from sparkbm25.jobs import Index

    corpus, d = f_built
    ix = Index(spark, d)
    queries = make_queries(12)
    got = _rows(index_bm25f_search(ix, queries, k=K, min_match=2))
    # cross-check: every (query, doc) score equals the unfiltered BM25F
    # score of that doc, and coverage >= 2 holds (oracle via corpus scan)
    full = {(q, doc): s for q, _r, doc, s in
            _rows(bm25f_score_topk(corpus, queries, k=10**6))}
    assert got and all((q, doc) in full and full[(q, doc)] == s
                       for q, _r, doc, s in got)
    ex = {queries[0][0]: queries[5][1].split()[0]}
    got_ex = _rows(index_bm25f_search(ix, queries, k=K, exclude=ex))
    assert got_ex


def test_indexed_bm25f_refusals(spark, f_built, tmp_path):
    from sparkbm25.build import BuildParams
    from sparkbm25.index_query import index_bm25f_search
    from sparkbm25.jobs import Index, build_index

    corpus, d = f_built
    ix = Index(spark, d)
    q = [(0, "w0100 w0200")]
    with pytest.raises(ValueError, match="sharded"):
        index_bm25f_search(ix, q, strategy="exhaustive")
    with pytest.raises(ValueError, match="> 0"):
        index_bm25f_search(ix, q, w_title=0.0)
    with pytest.raises(ValueError, match="int >= 1"):
        index_bm25f_search(ix, q, title_tokens=0)
    # positionless index: descriptive refusal pointing at the corpus scan
    d2 = str(tmp_path / "nopos")
    build_index(corpus, d2,
                BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                            lineage_groups=3, doc_id_scheme="conv_seq"),
                source_fingerprint="nopos60")
    with pytest.raises(ValueError, match="store_positions"):
        index_bm25f_search(Index(spark, d2), q)


def test_indexed_bm25f_blockmax_bit_identical(spark, f_built):
    """r06: BM25F on the pruned strategy — bounds from the raw block
    integers under the weight envelope (tf~ <= wmax*max_tf,
    dl~ >= wmin*min_dl) — must match the sharded kernel bit-for-bit,
    composing with overrides and boolean surfaces."""
    from sparkbm25.index_query import index_bm25f_search
    from sparkbm25.jobs import Index

    _corpus, d = f_built
    ix = Index(spark, d)
    queries = make_queries(12)
    for kw in ({}, {"k1": 0.9, "b": 0.3}, {"min_match": 2},
               {"title_tokens": 4, "w_title": 3.0}):
        ref = _rows(index_bm25f_search(ix, queries, k=K, **kw))
        assert ref
        got = _rows(index_bm25f_search(ix, queries, k=K,
                                       strategy="blockmax", **kw))
        assert got == ref, kw
