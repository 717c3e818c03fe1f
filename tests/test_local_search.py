"""Driver route: the driver-side serve of direct-route searches below the
route crossover must be BIT-IDENTICAL to the distributed routes on every
shape it accepts, and must fall back cleanly when gated off."""

import threading

import pytest
from pyspark.sql import functions as F

import sparkbm25.index_query as iq
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_df
from sparkbm25.jobs import Index, build_index, delete_docs


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = add_doc_id(make_transcripts_df(spark, 250), "conv_seq").select(
        "doc_id", "text"
    )
    ix_dir = str(tmp_path_factory.mktemp("localserve") / "ix")
    params = BuildParams(num_shards=8, salt_factor=2, num_term_buckets=8,
                         lineage_groups=1, doc_id_scheme="conv_seq")
    build_index(corpus, ix_dir, params, source_fingerprint="local-serve")
    return ix_dir, corpus


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ab(ix, queries, **kw):
    a = _rows(iq.index_search(ix, queries, k=10, **kw))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(iq, "_serve_in_driver", lambda *a: False)
        b = _rows(iq.index_search(ix, queries, k=10, **kw))
    return a, b


@pytest.mark.parametrize("shape", [
    {},
    {"k1": 0.9, "b": 0.4},
    {"mode": "and"},
    {"min_match": 2},
    {"strategy": "blockmax"},
])
def test_local_matches_distributed(spark, built, shape):
    ix_dir, _ = built
    ix = Index(spark, ix_dir)
    qs = make_queries(30)[:3]
    a, b = _ab(ix, qs, **shape)
    assert a and a == b


def test_local_matches_distributed_exclude_and_cursor(spark, built):
    ix_dir, _ = built
    ix = Index(spark, ix_dir)
    qs = make_queries(10)[:2]
    a, b = _ab(ix, qs, exclude={qs[0][0]: "zzznope"})
    assert a == b
    page1 = iq.index_search(ix, qs[:1], k=10).collect()
    assert page1
    cur = {qs[0][0]: (page1[-1].score, page1[-1].doc_id)}
    a, b = _ab(ix, qs[:1], search_after=cur)
    assert a == b


def test_local_matches_distributed_under_tombstones(spark, built):
    import shutil

    ix_dir, corpus = built
    tdir = ix_dir + "_tomb"
    shutil.rmtree(tdir, ignore_errors=True)
    shutil.copytree(ix_dir, tdir)
    victims = [
        r.doc_id for r in corpus.filter(F.col("doc_id") % 7 == 0).collect()
    ]
    delete_docs(spark, tdir, victims)
    ix = Index(spark, tdir)
    qs = make_queries(12)[:2]
    a, b = _ab(ix, qs)
    assert a and a == b
    dead = set(victims)
    assert not any(r[2] in dead for r in a)


def test_gates_route_away(spark, built, monkeypatch):
    ix_dir, _ = built
    ix = Index(spark, ix_dir)
    qs = make_queries(40)
    # past the route crossover -> the distributed route serves (still
    # correct, same rows)
    local = _rows(iq.index_search(ix, qs[:10], k=10))
    with monkeypatch.context() as m:
        m.setattr(iq, "CROSSOVER_POSTINGS", 0)
        many = _rows(iq.index_search(ix, qs[:10], k=10))
    assert many and many == local
    # posting-volume cap: force 0 -> falls through, same results
    saved = iq.LOCAL_SEARCH_MAX_POSTINGS
    iq.LOCAL_SEARCH_MAX_POSTINGS = 0
    try:
        gated = _rows(iq.index_search(ix, qs[:2], k=10))
    finally:
        iq.LOCAL_SEARCH_MAX_POSTINGS = saved
    assert gated == _rows(iq.index_search(ix, qs[:2], k=10))


def test_values_relation_schema(spark, built):
    ix_dir, _ = built
    ix = Index(spark, ix_dir)
    df = iq.index_search(ix, make_queries(5)[:1], k=10)
    assert [f.name for f in df.schema.fields] == [
        "query_id", "rank", "doc_id", "score"
    ]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "int", "bigint", "double"
    ]


def test_driver_route_builds_no_pandas_frame_and_no_thread(spark, built,
                                                           monkeypatch):
    """The driver route reads, scores and merges in Arrow and numpy in the
    calling thread: no pandas frame is built and no thread is started
    (the Spark route stays row-identical through the _ab tests)."""
    ix_dir, _ = built
    ix = Index(spark, ix_dir)
    qs = make_queries(40)[:5]
    want = _rows(iq.index_search(ix, qs, k=10))  # warms the handle caches
    served = []
    real_local = iq._local_search
    monkeypatch.setattr(iq, "_local_search",
                        lambda *a: served.append(1) or real_local(*a))
    caller = threading.current_thread()
    started = []
    real_start = threading.Thread.start

    def start(self):
        if threading.current_thread() is caller:
            started.append(self.name)
        return real_start(self)

    def refuse(*a, **kw):
        raise AssertionError("pandas DataFrame built on the driver route")

    before = threading.active_count()
    with monkeypatch.context() as m:
        m.setattr(threading.Thread, "start", start)
        m.setattr(iq.pd, "DataFrame", refuse)
        got = _rows(iq.index_search(ix, qs, k=10))
    assert threading.active_count() == before
    assert started == []
    assert served == [1]
    assert got == want
