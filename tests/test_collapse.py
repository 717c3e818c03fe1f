"""Field collapsing (OpenSearch `collapse` analog).

`index_search(..., collapse="attr")` keeps, per query, only the BEST
doc per distinct stored-attribute value (total order score DESC,
doc_id ASC; NULL attrs form one group), ranked 1..k over the group
representatives, with the group key in a new `value` column.

Contract pinned here:
- equals the brute-force collapse of a full (k=corpus) search joined
  to the attribute — on the side-direct plan, bit-identical scores;
- composes with where=, mode='and', exclude, and k1/b overrides;
- NULL attribute values collapse into one group;
- strategy='blockmax' returns the 'sharded' rows;
- refuses: unstored attribute, search_after.

Reference analog: the reference service exposes no collapsing — this
widens SURVEY §2.5 T1 the way facets do (the "best hit per
conversation" panel every transcript-search UI needs); semantics follow
OpenSearch's `collapse` (best doc per field value, collapsed ranking).
"""

import pandas as pd
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index

QS = make_queries(10)
K = 5


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(40)
    # a NULL-attr stripe: the NULL collapse group must behave like SQL's
    pdf.loc[pdf.index % 7 == 3, "tool"] = None
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text", "role", "conv_id", "tool"
    )
    d = str(tmp_path_factory.mktemp("collapse_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, attr_cols=("role", "conv_id", "tool"),
                    doc_id_scheme="conv_seq"),
        "collapse",
    )
    return Index(spark, d), corpus


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score, r.value)
        for r in df.collect()
    )


def _brute(ix, corpus, by, k, **kw):
    """Reference collapse: FULL search (k = corpus size), join the
    attribute, best per (query, value), re-rank, cut to k — pure pandas
    over the engine's own oracle-checked scores."""
    full = index_search(ix, QS, k=10**6, **kw).toPandas()
    attrs = corpus.select("doc_id", by).toPandas()
    m = full.merge(attrs, on="doc_id")
    m["value"] = m[by].astype(object).where(pd.notna(m[by]), None)
    out = []
    for qid, g in m.groupby("query_id"):
        g = g.sort_values(["score", "doc_id"], ascending=[False, True],
                          kind="stable")
        seen, kept = set(), []
        for r in g.itertuples():
            key = r.value  # None is its own (single) group
            if key in seen:
                continue
            seen.add(key)
            kept.append((qid, len(kept) + 1, r.doc_id, r.score, r.value))
            if len(kept) == k:
                break
        out.extend(kept)
    return sorted(out)


def test_collapse_matches_brute_both_routes(built):
    ix, corpus = built
    want = _brute(ix, corpus, "conv_id", K)
    assert want
    got_d = _rows(index_search(ix, QS, k=K, collapse="conv_id"))
    assert got_d == want  # bit-identical scores, exact collapsed ranks


def test_collapse_null_group(built):
    ix, corpus = built
    want = _brute(ix, corpus, "tool", K)
    got = _rows(index_search(ix, QS, k=K, collapse="tool"))
    assert got == want
    # the NULL stripe is non-empty and collapses to at most one row/query
    per_q_nulls = {}
    for qid, _rk, _d, _s, v in got:
        if v is None:
            per_q_nulls[qid] = per_q_nulls.get(qid, 0) + 1
    assert per_q_nulls and all(n == 1 for n in per_q_nulls.values())


def test_collapse_composes(built):
    ix, corpus = built
    for kw in (
        {"mode": "and"},
        {"k1": 0.9, "b": 0.4},
        {"where": {"role": "user"}},
        {"exclude": {QS[0][0]: "w0007"}},
    ):
        want = _brute(ix, corpus, "conv_id", K, **kw)
        got = _rows(index_search(ix, QS, k=K, collapse="conv_id", **kw))
        assert got == want, kw


def test_collapse_under_tombstones(built, spark, tmp_path):
    """Deleting a group's best doc must promote its runner-up (per-group
    masking happens BEFORE collapse selection), on both routes."""
    import shutil

    from sparkbm25.jobs import delete_docs

    ix, corpus = built
    # victims: each query's current #1 doc — the group-best promotion case
    top = index_search(ix, QS, k=1).collect()
    victims = sorted({r.doc_id for r in top})
    assert victims
    d2 = str(tmp_path / "collapse_tomb")
    shutil.copytree(ix.index_dir, d2)
    delete_docs(spark, d2, victims)
    tix = Index(spark, d2)
    alive = corpus.filter(~corpus.doc_id.isin(victims)).toPandas()
    # brute reference over the engine's own tombstoned full search
    full = index_search(tix, QS, k=10**6).toPandas()
    assert not set(full.doc_id) & set(victims)
    attrs = corpus.select("doc_id", "conv_id").toPandas()
    m = full.merge(attrs, on="doc_id")
    want = []
    for qid, g in m.groupby("query_id"):
        g = g.sort_values(["score", "doc_id"], ascending=[False, True],
                          kind="stable")
        seen, kept = set(), []
        for r in g.itertuples():
            if r.conv_id in seen:
                continue
            seen.add(r.conv_id)
            kept.append((qid, len(kept) + 1, r.doc_id, r.score, r.conv_id))
            if len(kept) == K:
                break
        want.extend(kept)
    want = sorted(want)
    got_d = _rows(index_search(tix, QS, k=K, collapse="conv_id"))
    assert got_d == want and want


def test_collapse_refusals(built):
    ix, _corpus = built
    with pytest.raises(ValueError, match="not stored"):
        index_search(ix, QS, k=K, collapse="nope")
    got = {
        s: _rows(index_search(ix, QS, k=K, collapse="conv_id", strategy=s))
        for s in ("sharded", "blockmax")
    }
    assert got["blockmax"] == got["sharded"] and got["sharded"]
    with pytest.raises(ValueError, match="search_after"):
        index_search(ix, QS, k=K, collapse="conv_id",
                     search_after={QS[0][0]: (1.0, 5)})
