"""Cursor pagination (OpenSearch `search_after` analog).

`index_search(..., search_after={qid: (score, doc_id)})` returns the
top-k candidates STRICTLY after the cursor in the result total order
(score DESC, doc_id ASC): ``score < s OR (score == s AND doc_id > d)``.
The mask runs on the folded scores in the kernel BEFORE local top-k
extraction, so per-shard survivors are the true after-cursor leaders;
the float equality is sound because cursors come from the engine's own
bit-exact scores (identical across strategies and the driver/Spark
serves — the repo's oldest contract).

Contract pinned here:
- page 2 from a rank-k cursor == ranks k+1..2k of one top-2k search
  (bit-identical scores), served in the driver and through Spark;
- chaining cursors walks the full result list with no gaps or dups;
- composes with filters, mode='and', exclude, and k1/b overrides
  (anything the dense kernel serves);
- blockmax refuses (its theta bootstrap counts pre-cursor docs, so
  pruning under a cursor is unsound); malformed cursors refuse.

Reference analog: the reference serves paged queries purely through
its harness's repeated top-k calls (benchmarking/search/
search_indices.py); search_after is the stateless-cursor equivalent.
"""

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index

QS = make_queries(12)
K = 7


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(40)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    d = str(tmp_path_factory.mktemp("after_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq"),
        "after",
    )
    return Index(spark, d)


def _by_query(df):
    out: dict[int, list] = {}
    for r in df.collect():
        out.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for rows in out.values():
        rows.sort()
    return out


def _cursors(page, rank):
    return {
        qid: (rows[rank - 1][2], rows[rank - 1][1])
        for qid, rows in page.items()
        if len(rows) >= rank
    }


def test_page2_equals_rank_window(built):
    full = _by_query(index_search(built, QS, k=2 * K))
    page1 = _by_query(index_search(built, QS, k=K))
    cur = _cursors(page1, K)
    qs2 = [(qid, txt) for qid, txt in QS if qid in cur]
    assert qs2, "fixture queries must have full first pages"
    page2 = _by_query(index_search(built, qs2, k=K, search_after=cur))
    for qid in cur:
        want = [
            (r - K, d, s) for r, d, s in full.get(qid, []) if r > K
        ]
        assert page2.get(qid, []) == want  # bit-identical scores


def test_routes_bit_identical(built, monkeypatch):
    import sparkbm25.index_query as iq

    page1 = _by_query(index_search(built, QS, k=K))
    cur = _cursors(page1, K)
    qs2 = [(qid, txt) for qid, txt in QS if qid in cur]
    # the in-driver serve vs the distributed direct plan
    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_QUERIES", len(qs2))
    d = _by_query(index_search(built, qs2, k=K, search_after=cur))
    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_QUERIES", 0)
    e = _by_query(index_search(built, qs2, k=K, search_after=cur))
    assert d == e and d


def test_chained_cursors_walk_without_gaps(built):
    qid, txt = QS[0]
    full = _by_query(index_search(built, [(qid, txt)], k=1000)).get(qid, [])
    assert len(full) > 2 * K
    seen: list = []
    cur = None
    while True:
        kw = {"search_after": {qid: cur}} if cur else {}
        page = _by_query(
            index_search(built, [(qid, txt)], k=K, **kw)
        ).get(qid, [])
        if not page:
            break
        seen.extend((d, s) for _r, d, s in page)
        if len(page) < K:
            break
        cur = (page[-1][2], page[-1][1])
    assert seen == [(d, s) for _r, d, s in full]


def test_composes_with_boolean_and_overrides(built):
    for kw in (
        {"mode": "and"},
        {"k1": 0.9, "b": 0.4},
        {"exclude": {QS[0][0]: "w0007"}},
    ):
        full = _by_query(index_search(built, QS, k=2 * K, **kw))
        page1 = _by_query(index_search(built, QS, k=K, **kw))
        cur = _cursors(page1, K)
        if not cur:
            continue
        qs2 = [(qid, txt) for qid, txt in QS if qid in cur]
        page2 = _by_query(
            index_search(built, qs2, k=K, search_after=cur, **kw)
        )
        for qid in cur:
            want = [
                (r - K, d, s) for r, d, s in full.get(qid, []) if r > K
            ]
            assert page2.get(qid, []) == want


def test_refusals(built):
    with pytest.raises(ValueError, match="sharded"):
        index_search(built, QS, k=K, strategy="blockmax",
                     search_after={QS[0][0]: (1.0, 5)})
    with pytest.raises(ValueError, match="cursor"):
        index_search(built, QS, k=K, search_after={QS[0][0]: (1.0, "x")})
    with pytest.raises(ValueError, match="cursor"):
        index_search(built, QS, k=K, search_after={QS[0][0]: 1.0})
