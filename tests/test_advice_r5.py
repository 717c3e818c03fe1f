"""Regression tests for the round-5 ADVICE findings.

1. mode='and' with duplicate query_ids carrying different texts must
   honor the documented dup-qid merge contract (union of token sets),
   not silently return no rows.
2. bm25f with non-integer field weights must not truncate the weighted
   doc-length sum when deriving avgdl~.
3. OracleIndex.search must validate mode/min_match exactly like the
   engine, so typo'd parity tests cannot compare OR vs OR.
"""

import math

import pytest

from sparkbm25.analysis import tokenize_py
from sparkbm25.bm25 import idf as idf_py
from sparkbm25.bm25f import bm25f_score_topk
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex

PARAMS = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                     lineage_groups=2, doc_id_scheme="conv_seq")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_transcripts_pdf(40)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixadv"))
    build_index(corpus, d, PARAMS, source_fingerprint="fixture40adv")
    return d


@pytest.fixture(scope="module")
def rows(corpus):
    return [(r.doc_id, r.text) for r in corpus.collect()]


def test_and_dup_qid_merges_token_sets(spark, built, rows, corpus):
    """Two copies of qid 7 with DIFFERENT texts: coverage requirement is
    the union of their token sets (the documented dup-qid merge), so the
    result must equal a single query carrying the concatenated text."""
    oracle = OracleIndex.build(rows)
    # pick two texts that individually AND-match at least one doc
    t_all = corpus.limit(1).collect()[0].text
    toks = tokenize_py(t_all)
    assert len(toks) >= 4
    ta, tb = " ".join(toks[:2]), " ".join(toks[2:4])
    ix = Index(spark, built)
    got = index_search(ix, [(7, ta), (7, tb)], k=10, mode="and").collect()
    want = oracle.search(f"{ta} {tb}", k=10, mode="and")
    assert want, "merged conjunction must match at least the source doc"
    got_s = sorted((r.rank, r.doc_id) for r in got)
    want_s = sorted((i + 1, d) for i, (d, _) in enumerate(want))
    assert got_s == want_s
    for r in got:
        w = dict((d, s) for d, s in want)
        assert r.score == pytest.approx(w[r.doc_id], rel=1e-9)


def _py_bm25f(rows, queries, title_tokens, w_title, w_body, k1, b, k):
    """Tiny pure-python BM25F reference (simple/weighted variant)."""
    docs = {}
    dlw = {}
    for doc_id, text in rows:
        toks = tokenize_py(text)
        tfw = {}
        for i, t in enumerate(toks):
            tfw[t] = tfw.get(t, 0.0) + (w_title if i < title_tokens
                                        else w_body)
        docs[doc_id] = tfw
        dlw[doc_id] = (w_title * min(len(toks), title_tokens)
                       + w_body * max(len(toks) - title_tokens, 0))
    n = len(docs)
    avgdl = sum(dlw.values()) / n
    out = {}
    for qid, qtext in queries:
        acc = {}
        for t in tokenize_py(qtext):
            df_t = sum(1 for tf in docs.values() if t in tf)
            if df_t == 0:
                continue
            w = idf_py(df_t, n)
            for d, tfw in docs.items():
                if t not in tfw:
                    continue
                tf = tfw[t]
                norm = tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * dlw[d] / avgdl))
                acc[d] = acc.get(d, 0.0) + w * norm
        top = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
        out[qid] = top
    return out


def test_bm25f_noninteger_weights_avgdl_not_truncated(spark, corpus, rows):
    """w_title=2.5 makes dlw non-integer; a long-cast sum would skew
    avgdl~ and every score. Compare against a pure-python reference."""
    q = [(1, tokenize_py(rows[0][1])[0]), (2, tokenize_py(rows[1][1])[0])]
    got = bm25f_score_topk(corpus, q, k=5, w_title=2.5, w_body=1.0)
    want = _py_bm25f(rows, q, title_tokens=8, w_title=2.5, w_body=1.0,
                     k1=1.2, b=0.75, k=5)
    for r in got.collect():
        wd = dict(want[r.query_id])
        assert r.doc_id in wd
        assert r.score == pytest.approx(wd[r.doc_id], rel=1e-9)


def test_oracle_validates_mode_and_min_match(rows):
    oracle = OracleIndex.build(rows)
    with pytest.raises(ValueError, match="mode"):
        oracle.search("hello", mode="xor")
    with pytest.raises(ValueError, match="min_match"):
        oracle.search("hello world", mode="and", min_match=2)
    with pytest.raises(ValueError, match="min_match"):
        oracle.search("hello world", min_match=0)
