"""Histogram + stats aggregations over the match set (round 6).

`index_histogram(queries, on=attr, width=w)` — per query, doc counts in
fixed-width buckets (floor(attr/width)*width, a long) of a stored
numeric attribute, over ALL docs matching >= 1 query token (the facet
candidate-set semantics); NULL attrs ignored (ES missing-field
default). `index_stats(queries, on=attr)` — per query (n_docs, min_v,
max_v, sum_v, avg_v) over the same match set, partial-folded in the
kernel (|queries| output rows regardless of match volume; integer
attributes sum exactly in f64 below 2^53).

Contract pinned here:
- counts/stats equal a brute-force python oracle on the side-direct
  plan;
- NULL attributes are excluded from buckets and stats;
- where= composes (the side is pre-filtered);
- tombstoned docs are not counted;
- refusals: unstored attribute, bad width.

Reference analog: the reference service exposes no aggregations — this
widens SURVEY §2.5 T1 like facets (semantics follow OpenSearch's
histogram / stats aggregations).
"""

import numpy as np
import pytest

from sparkbm25.analysis import tokenize_py
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.facets import index_histogram, index_stats
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.jobs import Index, build_index

QS = make_queries(8)
WIDTH = 20


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(40)
    pdf["n_chars"] = pdf["text"].str.len().astype("float64")
    pdf.loc[pdf.index % 9 == 2, "n_chars"] = np.nan  # NULL stripe
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text", "role", "n_chars"
    )
    d = str(tmp_path_factory.mktemp("aggs_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, attr_cols=("role", "n_chars"),
                    doc_id_scheme="conv_seq"),
        "aggs",
    )
    return Index(spark, d), corpus.toPandas()


def _matches(docs_pdf, role=None):
    """{query_id: set(doc_id)} — brute-force disjunctive match set."""
    doc_toks = {
        r.doc_id: set(tokenize_py(r.text)) for r in docs_pdf.itertuples()
    }
    eligible = {
        r.doc_id for r in docs_pdf.itertuples()
        if role is None or r.role == role
    }
    out = {}
    for qid, text in QS:
        toks = set(tokenize_py(text))
        m = {
            d for d, ts in doc_toks.items()
            if d in eligible and (ts & toks)
        }
        if m:
            out[qid] = m
    return out


def _brute_hist(docs_pdf, role=None):
    vals = dict(zip(docs_pdf.doc_id, docs_pdf.n_chars))
    want = set()
    for qid, m in _matches(docs_pdf, role).items():
        buckets = {}
        for d in m:
            v = vals[d]
            if v != v:  # NaN -> NULL attr, ignored
                continue
            b = int(np.floor(v / WIDTH) * WIDTH)
            buckets[b] = buckets.get(b, 0) + 1
        want |= {(qid, b, n) for b, n in buckets.items()}
    return want


def _brute_stats(docs_pdf, role=None):
    vals = dict(zip(docs_pdf.doc_id, docs_pdf.n_chars))
    want = set()
    for qid, m in _matches(docs_pdf, role).items():
        v = np.array([vals[d] for d in m if vals[d] == vals[d]])
        if len(v):
            want.add((qid, len(v), float(v.min()), float(v.max()),
                      float(v.sum()), round(float(v.sum()) / len(v), 9)))
    return want


def test_histogram_both_routes(built):
    ix, docs_pdf = built
    want = _brute_hist(docs_pdf)
    assert want
    got = {
        (r.query_id, r.bucket, r.n_docs)
        for r in index_histogram(ix, QS, on="n_chars",
                                 width=WIDTH).collect()
    }
    assert got == want


def test_stats_both_routes(built):
    ix, docs_pdf = built
    want = _brute_stats(docs_pdf)
    assert want
    got = {
        (r.query_id, r.n_docs, r.min_v, r.max_v, r.sum_v,
         round(r.avg_v, 9))
        for r in index_stats(ix, QS, on="n_chars").collect()
    }
    assert got == want


def test_where_composes(built):
    ix, docs_pdf = built
    got_h = {
        (r.query_id, r.bucket, r.n_docs)
        for r in index_histogram(ix, QS, on="n_chars", width=WIDTH,
                                 where={"role": "user"}).collect()
    }
    assert got_h == _brute_hist(docs_pdf, role="user")
    got_s = {
        (r.query_id, r.n_docs, r.min_v, r.max_v, r.sum_v,
         round(r.avg_v, 9))
        for r in index_stats(ix, QS, on="n_chars",
                             where={"role": "user"}).collect()
    }
    assert got_s == _brute_stats(docs_pdf, role="user")


def test_tombstones_excluded(built, spark, tmp_path):
    import shutil

    from sparkbm25.jobs import delete_docs

    ix, docs_pdf = built
    d2 = str(tmp_path / "tomb_copy")
    shutil.copytree(ix.index_dir, d2)
    victims = sorted(docs_pdf.doc_id)[::3]
    delete_docs(spark, d2, victims)
    tix = Index(spark, d2)
    alive = docs_pdf[~docs_pdf.doc_id.isin(victims)]
    got = {
        (r.query_id, r.bucket, r.n_docs)
        for r in index_histogram(tix, QS, on="n_chars",
                                 width=WIDTH).collect()
    }
    assert got == _brute_hist(alive)
    got_s = {
        (r.query_id, r.n_docs, r.min_v, r.max_v, r.sum_v,
         round(r.avg_v, 9))
        for r in index_stats(tix, QS, on="n_chars").collect()
    }
    assert got_s == _brute_stats(alive)


def test_cardinality_both_routes(built):
    from sparkbm25.facets import index_cardinality

    ix, docs_pdf = built
    vals = dict(zip(docs_pdf.doc_id, docs_pdf.role))
    want = {
        (qid, len({vals[d] for d in m if vals[d] is not None}))
        for qid, m in _matches(docs_pdf).items()
    }
    want = {(q, n) for q, n in want if n}
    assert want
    got = {
        (r.query_id, r.n_values)
        for r in index_cardinality(ix, QS, on="role").collect()
    }
    assert got == want


def test_count_matches_and_filters(built):
    from sparkbm25.facets import index_count

    ix, docs_pdf = built
    want = {(q, len(m)) for q, m in _matches(docs_pdf).items()}
    assert want
    got = {
        (r.query_id, r.n_docs)
        for r in index_count(ix, QS).collect()
    }
    assert got == want
    got_f = {
        (r.query_id, r.n_docs)
        for r in index_count(ix, QS, where={"role": "user"}).collect()
    }
    assert got_f == {
        (q, len(m)) for q, m in _matches(docs_pdf, role="user").items()
    }


def test_refusals(built):
    from sparkbm25.facets import index_cardinality

    ix, _docs = built
    with pytest.raises(ValueError, match="not stored"):
        index_histogram(ix, QS, on="nope", width=WIDTH)
    with pytest.raises(ValueError, match="width"):
        index_histogram(ix, QS, on="n_chars", width=0)
    with pytest.raises(ValueError, match="not stored"):
        index_stats(ix, QS, on="nope")
    with pytest.raises(ValueError, match="not stored"):
        index_cardinality(ix, QS, on="nope")
