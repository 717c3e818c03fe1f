"""Direct search plans over the shard-clustered posting layout
(posting_layout 2, engine >= 0.8).

The direct plan exists because a scan->kernel exchange + JVM->Python
Arrow hop costs ~0.9 s per batch nearly independent of core count
(measured 0.90 s at local[8] vs 1.13 s at local[2] on a 2.2M-turn index)
— the fixed term that capped q100 batch-scaling efficiency at ~0.70
(VERDICT r04 #4). Contract pinned here: rank identity with the
pure-Python OracleIndex on the direct and side-direct plans, one
Exchange total in the direct plan, and a layout-1 index refused until
compact_index upgrades it.
"""

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index, delete_docs
from sparkbm25.oracle import OracleIndex

QS = make_queries(25) + [(900, "w0001 w0001 w0003")]


@pytest.fixture(scope="module")
def corpus40(spark):
    pdf = make_transcripts_pdf(40)
    return add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text", "role", "tool"
    )


@pytest.fixture(scope="module")
def oracle40(corpus40):
    return OracleIndex.build(
        [(r.doc_id, r.text) for r in corpus40.collect()]
    )


@pytest.fixture(scope="module")
def built(spark, corpus40, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("direct_ix"))
    build_index(
        corpus40.select("doc_id", "text"), d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq"),
        "direct",
    )
    return Index(spark, d)


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in df.collect()
    )


def _assert_oracle(got, want):
    want = sorted(want)
    assert got and [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def _distributed(monkeypatch):
    # few-query calls are served in the driver; 0 forces the Spark plan
    import sparkbm25.index_query as iq

    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_QUERIES", 0)


def test_direct_is_default_and_bit_exact(built, oracle40):
    assert built.posting_layout >= 2
    _assert_oracle(_rows(index_search(built, QS, k=8)),
                   oracle40.search_all(QS, k=8))


def test_direct_tuned_k1_b_bit_exact(built, oracle40):
    _assert_oracle(_rows(index_search(built, QS, k=8, k1=0.9, b=0.4)),
                   oracle40.search_all(QS, k=8, k1=0.9, b=0.4))


def test_direct_plan_single_exchange(built, monkeypatch):
    _distributed(monkeypatch)
    df = index_search(built, QS[:3], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_direct_with_tombstones_bit_exact(spark, tmp_path):
    pdf = make_transcripts_pdf(30)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "direct_tomb_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=1, doc_id_scheme="conv_seq"),
        "direct_tomb",
    )
    rows = corpus.collect()
    victims = [r.doc_id for r in rows[:20]]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in rows])
    live = {r.doc_id for r in rows} - set(victims)
    got = _rows(index_search(ix, QS, k=8))
    _assert_oracle(got, ora.search_all(QS, k=8, allowed=live))
    assert not ({r[2] for r in got} & set(victims))


def test_direct_true_refusals(built):
    # the cross-check strategies are gone: only the two plans' kernels
    # are selectable, anything else is refused loudly
    for strategy in ("exhaustive", "blockmax_plan"):
        with pytest.raises(ValueError, match="strategy"):
            index_search(built, QS[:2], k=5, strategy=strategy)


def test_direct_blockmax_bit_exact_and_single_exchange(built, oracle40,
                                                       monkeypatch):
    d = _rows(index_search(built, QS, k=8, strategy="blockmax"))
    s = _rows(index_search(built, QS, k=8))
    assert d == s
    _assert_oracle(d, oracle40.search_all(QS, k=8))
    _distributed(monkeypatch)
    df = index_search(built, QS[:3], k=5, strategy="blockmax")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_direct_blockmax_tuned_bit_exact(built):
    d = _rows(index_search(built, QS, k=8, strategy="blockmax",
                           k1=0.6, b=0.3))
    e = _rows(index_search(built, QS, k=8, k1=0.6, b=0.3))
    assert d == e and len(d) > 0


def test_layout1_index_falls_back_and_refuses_direct(built, spark,
                                                     oracle40, monkeypatch):
    """A layout-1 manifest once fell back to a blocks-exchange plan; that
    plan is gone, so every strategy, on the driver and on the Spark plan,
    now refuses it in Index.shard_file_map. The layout-2 handle on the
    same files still answers."""
    ix = Index(spark, built.index_dir)
    ix.posting_layout = 1  # simulate a pre-0.8 manifest
    for strategy in ("sharded", "blockmax"):
        with pytest.raises(ValueError, match="compact"):
            index_search(ix, QS[:5], k=8, strategy=strategy)
    with pytest.raises(ValueError, match="posting layout"):
        ix.shard_file_map()
    _distributed(monkeypatch)
    with pytest.raises(ValueError, match="compact"):
        index_search(ix, QS[:5], k=8)
    _assert_oracle(_rows(index_search(built, QS[:5], k=8)),
                   oracle40.search_all(QS[:5], k=8))


def test_layout1_index_refused_until_compacted(spark, tmp_path,
                                               monkeypatch):
    """A pre-0.8 (layout-1) index fails in one place,
    Index.shard_file_map, for every search surface (phrase search:
    test_phrase_slop); compact_index is the one migration. The tuned
    blockmax query after compaction needs the raw block bounds, so it
    shows compaction wrote them."""
    import sparkbm25.build as build_mod
    from sparkbm25.facets import index_facets
    from sparkbm25.streaming import compact_index

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(30)), "conv_seq"
    ).select("doc_id", "text", "role")
    d = str(tmp_path / "ix_layout1")
    with monkeypatch.context() as m:
        m.setattr(build_mod, "POSTING_LAYOUT", 1)
        build_index(
            corpus, d,
            BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                        lineage_groups=2, doc_id_scheme="conv_seq",
                        attr_cols=("role",), store_positions=True),
            "layout1",
        )
    ix = Index(spark, d)
    assert ix.posting_layout == 1
    with pytest.raises(ValueError, match="compact"):
        index_search(ix, QS[:5], k=8)
    with pytest.raises(ValueError, match="compact"):
        index_facets(ix, QS[:5], by="role")
    compact_index(spark, d)
    ix = Index(spark, d)
    assert ix.posting_layout == 2
    ora = OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])
    _assert_oracle(_rows(index_search(ix, QS, k=8)),
                   ora.search_all(QS, k=8))
    _assert_oracle(
        _rows(index_search(ix, QS, k=8, strategy="blockmax",
                           k1=0.9, b=0.4)),
        ora.search_all(QS, k=8, k1=0.9, b=0.4),
    )


def test_shard_file_map_shape_and_cache(built):
    fm = built.shard_file_map()
    assert set(fm) <= set(range(built.num_shards)) and fm
    # every entry is (group_seq, existing path) and bucket cache is filled
    import os

    for lst in fm.values():
        for gseq, path in lst:
            assert os.path.exists(path) and gseq >= 0
    assert set(built._bucket_files) == set(range(built.num_term_buckets))
    # restricting to one bucket returns a subset of files
    sub = built.shard_file_map([0])
    all_paths = {p for lst in fm.values() for _, p in lst}
    sub_paths = {p for lst in sub.values() for _, p in lst}
    assert sub_paths < all_paths


# --- round 6: SIDE-DIRECT — filtered search without a blocks exchange
# (only the qualifying-id side shuffles) ----------------------------------

@pytest.fixture(scope="module")
def built_attrs(spark, corpus40, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixsd"))
    build_index(
        corpus40, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role", "tool")),
        "sidedirect40",
    )
    return corpus40, Index(spark, d)


def test_direct_filtered_side_grouped_bit_identical(built_attrs, oracle40):
    """where= on the side-direct plan must be rank-identical to the
    oracle restricted to the qualifying docs, for both strategies."""
    corpus, ix = built_attrs
    users = {r.doc_id for r in corpus.collect() if r.role == "user"}
    for kw in ({}, {"strategy": "blockmax"}, {"min_match": 2},
               {"k1": 0.9, "b": 0.4}):
        got = _rows(index_search(ix, QS, k=8, where={"role": "user"}, **kw))
        okw = {k: v for k, v in kw.items() if k != "strategy"}
        _assert_oracle(got,
                       oracle40.search_all(QS, k=8, allowed=users, **okw))


def test_direct_filtered_with_distributed_tombstones(spark, built_attrs,
                                                     oracle40, tmp_path,
                                                     monkeypatch):
    """side-direct composes with the distributed tombstone side
    (kind=1 rows) — forced via TOMBSTONE_BROADCAST_MAX=1."""
    import shutil as _sh

    import sparkbm25.jobs as J

    corpus, ix0 = built_attrs
    d = str(tmp_path / "ixsdt")
    _sh.copytree(ix0.index_dir, d)
    rows = corpus.collect()
    victims = [r.doc_id for r in rows[:12]]
    delete_docs(spark, d, victims)
    monkeypatch.setattr(J, "TOMBSTONE_BROADCAST_MAX", 1)
    ix = J.Index(spark, d)
    allowed = {r.doc_id for r in rows if r.role == "user"} - set(victims)
    got = _rows(index_search(ix, QS, k=8, where={"role": "user"}))
    _assert_oracle(got, oracle40.search_all(QS, k=8, allowed=allowed))
    assert not ({r[2] for r in got} & set(victims))
