"""Direct search plans over the shard-clustered posting layout
(posting_layout 2 onward, engine >= 0.8; layout 3 since 0.10).

The direct plan exists because a scan->kernel exchange + JVM->Python
Arrow hop costs ~0.9 s per batch nearly independent of core count
(measured 0.90 s at local[8] vs 1.13 s at local[2] on a 2.2M-turn index)
— the fixed term that capped q100 batch-scaling efficiency at ~0.70
(VERDICT r04 #4). Contract pinned here: rank identity with the
pure-Python OracleIndex on the direct and side-direct plans; the route
rule (_serve_in_driver) on both sides of the crossover, with a call below
it served in the driver (no Spark job) and bit-identical to the Spark
route; on the Spark route, under the driver row budget the direct plan is
one Spark job (one task per shard) merged in the driver, over it one
Exchange (the topk_window merge), with identical rows on both sides; and
a layout-1 index refused until compact_index upgrades it to layout 3.
"""

from types import SimpleNamespace

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import MICRO_DOCS, make_queries, make_transcripts_pdf
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
    # calls below the route crossover are served in the driver; this
    # forces the Spark route
    import sparkbm25.index_query as iq

    monkeypatch.setattr(iq, "_serve_in_driver", lambda *a: False)


def test_direct_is_default_and_bit_exact(built, oracle40):
    assert built.posting_layout == 3
    _assert_oracle(_rows(index_search(built, QS, k=8)),
                   oracle40.search_all(QS, k=8))


def test_direct_tuned_k1_b_bit_exact(built, oracle40):
    _assert_oracle(_rows(index_search(built, QS, k=8, k1=0.9, b=0.4)),
                   oracle40.search_all(QS, k=8, k1=0.9, b=0.4))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_one_job_merged_in_driver(spark_jobs, ix, qs, **kw):
    """Under the driver row budget the direct plan runs its one job inside
    index_search — one stage, one task per shard, no exchange — and the
    result is a driver-resident frame (a LocalTableScan once its JVM
    frame is built) whose collect launches no job."""
    fm = ix.shard_file_map()
    df, jobs = spark_jobs(lambda: index_search(ix, qs, **kw))
    assert jobs == [[len(fm)]], jobs
    plan = _plan(df)
    assert "LocalTableScan" in plan and "Exchange" not in plan, plan
    rows, jobs = spark_jobs(df.collect)
    assert rows and jobs == [], jobs


def test_direct_plan_single_exchange(built, monkeypatch, spark_jobs):
    _distributed(monkeypatch)
    _assert_one_job_merged_in_driver(spark_jobs, built, QS[:3], k=5)
    # over the driver row budget the global merge stays a lazy window:
    # one exchange after the per-shard kernel
    import sparkbm25.index_query as iq

    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_POSTINGS", 0)
    plan = _plan(index_search(built, QS[:3], k=5))
    assert plan.count("Exchange") == 1, plan
    assert "MapInArrow" in plan, plan
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
                                                       monkeypatch,
                                                       spark_jobs):
    d = _rows(index_search(built, QS, k=8, strategy="blockmax"))
    s = _rows(index_search(built, QS, k=8))
    assert d == s
    _assert_oracle(d, oracle40.search_all(QS, k=8))
    _distributed(monkeypatch)
    _assert_one_job_merged_in_driver(spark_jobs, built, QS[:3], k=5,
                                     strategy="blockmax")
    import sparkbm25.index_query as iq

    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_POSTINGS", 0)
    plan = _plan(index_search(built, QS[:3], k=5, strategy="blockmax"))
    assert plan.count("Exchange") == 1, plan
    assert "MapInArrow" in plan, plan


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


def test_layout1_index_refused_until_compacted(spark, tmp_path):
    """A pre-0.8 (layout-1) index fails in one place,
    Index.shard_file_map, for every search surface (phrase search:
    test_phrase_slop); compact_index is the one migration. After it
    the compacted files carry exactly the layout-3 block columns and a
    tuned k1/b query stays oracle-identical."""
    import pyarrow.parquet as pq
    from legacy_layout import rewrite_as_legacy

    from sparkbm25.facets import index_facets
    from sparkbm25.streaming import compact_index

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(30)), "conv_seq"
    ).select("doc_id", "text", "role")
    d = str(tmp_path / "ix_layout1")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role",), store_positions=True),
        "layout1",
    )
    rewrite_as_legacy(d, 1)
    ix = Index(spark, d)
    assert ix.posting_layout == 1
    with pytest.raises(ValueError, match="compact"):
        index_search(ix, QS[:5], k=8)
    with pytest.raises(ValueError, match="compact"):
        index_facets(ix, QS[:5], by="role")
    compact_index(spark, d)
    ix = Index(spark, d)
    assert ix.posting_layout == 3
    path = next(p for lst in ix.shard_file_map().values() for _, p in lst)
    assert set(pq.read_schema(path).names) == {
        "term", "block_id", "n_docs", "first_doc", "sum_tf",
        "docs_vbyte", "tfs_vbyte", "pos_vbyte",
    }
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


# --- the driver row budget: per-shard tops merged in the driver vs the
# topk_window exchange ------------------------------------------------------

TIE_TEXT = MICRO_DOCS[0][1]  # MICRO_DOCS 0 and 4 are identical docs
TIE_QS = QS + [(901, TIE_TEXT), (902, "cat"), (903, "the dog")]


@pytest.fixture(scope="module")
def built_ties(spark, tmp_path_factory):
    """MICRO_DOCS at ids 0-4, then the 40-conversation fixture, then one
    more copy of the tie doc at the last id, so equal scores meet within
    a shard and across shards."""
    texts = [t for _, t in MICRO_DOCS]
    texts += list(make_transcripts_pdf(40)["text"]) + [TIE_TEXT]
    docs = list(enumerate(texts))
    d = str(tmp_path_factory.mktemp("ties_ix"))
    build_index(
        spark.createDataFrame(docs, "doc_id long, text string"), d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=1),
        "ties",
    )
    return docs, d


def test_driver_merge_matches_window_and_oracle(spark, built_ties, tmp_path,
                                                monkeypatch):
    """Both sides of the driver row budget give the same rows, bit for
    bit, rank-identical to the oracle: sharded, blockmax, blockmax with
    min_match=2, and a closure-tombstoned index; k=3, and k=50 (more
    than some queries match). Equal scores break by doc_id."""
    import shutil

    import sparkbm25.index_query as iq

    docs, d = built_ties
    ix = Index(spark, d)
    ties = [i for i, t in docs if t == TIE_TEXT]
    assert len({i >> ix.shard_shift for i in ties}) > 1  # cross-shard tie
    td = str(tmp_path / "ties_tomb")
    shutil.copytree(d, td)
    victims = [4, 7, 11, 12]
    delete_docs(spark, td, victims)
    tix = Index(spark, td)
    assert tix.n_deleted() > 0
    ora = OracleIndex.build(docs)
    live = {i for i, _ in docs} - set(victims)
    cases = [
        (ix, {}, {}),
        (ix, {"strategy": "blockmax"}, {}),
        (ix, {"strategy": "blockmax", "min_match": 2}, {"min_match": 2}),
        (tix, {}, {"allowed": live}),
    ]
    _distributed(monkeypatch)
    for k in (3, 50):
        for handle, kw, okw in cases:
            under = _rows(index_search(handle, TIE_QS, k=k, **kw))
            with monkeypatch.context() as m:
                m.setattr(iq, "LOCAL_SEARCH_MAX_POSTINGS", 0)
                over = _rows(index_search(handle, TIE_QS, k=k, **kw))
            assert under == over, (k, kw)
            want = ora.search_all(TIE_QS, k=k, **okw)
            _assert_oracle(under, want)
            if k == 3 and not okw:
                # the three tie docs fill query 901's top 3 by doc_id
                assert [r[2] for r in under if r[0] == 901] == ties
    # k=50 really exceeded the matches of some query
    assert any(
        0 < sum(r[0] == q for r in under) < 50 for q, _ in TIE_QS
    )


def _refuse_jvm_frames(monkeypatch):
    """Building a JVM frame from driver rows now raises: a call that
    still does it pays the createDataFrame -> collect round trip."""
    from pyspark.sql.session import SparkSession

    def refuse(*a, **kw):
        raise AssertionError("createDataFrame: driver rows sent to the JVM")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)


def test_empty_results_launch_no_job(built, spark_jobs, monkeypatch):
    """A query set with nothing to score returns a typed 0-row local
    frame: no Spark job and no JVM frame from the call through the
    collect."""
    index_search(built, [(0, "w0001")], k=5)  # warm the vocabulary
    _refuse_jvm_frames(monkeypatch)
    for kw in ({"queries": [(0, "zzabsentzz")]},
               {"queries": [(0, "w0001 zzabsentzz")], "min_match": 2}):
        rows, jobs = spark_jobs(
            lambda: index_search(built, k=5, **kw).collect()
        )
        assert rows == [] and jobs == [], (kw, jobs)


def test_driver_route_results_make_no_jvm_round_trip(spark, built, corpus40,
                                                     oracle40, tmp_path,
                                                     monkeypatch,
                                                     spark_jobs):
    """A driver-route call's result stays in Python: with
    createDataFrame refused, index_search(...).collect() still returns
    the oracle-identical rows, with no Spark job, for a point call, a
    100-query call, min_match=2, a tombstoned index and an all-OOV
    query."""
    import shutil

    td = str(tmp_path / "route_tomb")
    shutil.copytree(built.index_dir, td)
    ids = sorted(r.doc_id for r in corpus40.collect())
    victims = ids[::7]
    delete_docs(spark, td, victims)
    tix = Index(spark, td)
    assert tix.n_deleted() > 0
    live = set(ids) - set(victims)
    qs = make_queries(100)
    cases = [
        (built, QS[:1], {}, {}),
        (built, qs, {}, {}),
        (built, qs, {"min_match": 2}, {"min_match": 2}),
        (tix, QS, {}, {"allowed": live}),
    ]
    for handle in (built, tix):  # warm the vocabulary and tombstones
        index_search(handle, QS[:1], k=8)
    _refuse_jvm_frames(monkeypatch)
    for handle, queries, kw, okw in cases:
        rows, jobs = spark_jobs(
            lambda: _rows(index_search(handle, queries, k=8, **kw))
        )
        assert jobs == [], (kw, jobs)
        _assert_oracle(rows, oracle40.search_all(queries, k=8, **okw))
    rows, jobs = spark_jobs(
        lambda: index_search(built, [(0, "zzabsentzz")], k=8).collect()
    )
    assert rows == [] and jobs == [], jobs


# --- the route rule: driver below the posting crossover, Spark above --------

class _StatsIx:
    """The two driver-resident inputs _serve_in_driver reads: df from
    the term-stats cache and the session's default parallelism."""

    def __init__(self, df: dict, parallelism: int):
        self.df = df
        self.spark = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=parallelism)
        )

    def term_stats_lookup(self, terms):
        return {t: self.df[t] for t in terms if t in self.df}


def _route(monkeypatch, df, occ, n_shards, parallelism=4,
           crossover=1000, max_postings=10**6):
    import sparkbm25.index_query as iq

    monkeypatch.setattr(iq, "CROSSOVER_POSTINGS", crossover)
    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_POSTINGS", max_postings)
    terms = sorted({t for tw in occ.values() for t, _ in tw})
    fm = {s: [] for s in range(n_shards)}
    return iq._serve_in_driver(_StatsIx(df, parallelism), occ, terms, fm)


def test_route_rule_both_sides_of_crossover(monkeypatch):
    one = {1: [("a", 1.0)]}
    # under the crossover: driver
    assert _route(monkeypatch, {"a": 900}, one, n_shards=4)
    # over it: W * (1 - 1/p) = 3000 * 3/4 > 1000 -> Spark
    assert not _route(monkeypatch, {"a": 3000}, one, n_shards=4)
    # W above the crossover, but W * (1 - 1/4) = 900 below it: the Spark
    # route's split over 4 tasks does not win back its fixed cost
    assert _route(monkeypatch, {"a": 1200}, one, n_shards=4)
    # W counts every query occurrence: the fold runs per query, so three
    # occurrences of a 600-posting term weigh 1800 (1350 after the split)
    three = {1: [("a", 1.0), ("a", 1.0)], 2: [("a", 1.0)]}
    assert not _route(monkeypatch, {"a": 600}, three, n_shards=4)
    assert _route(monkeypatch, {"a": 300}, three, n_shards=4)
    # p = min(shards, defaultParallelism): 1900 * 1/2 is under the
    # crossover, 1900 * 7/8 over it
    assert _route(monkeypatch, {"a": 1900}, one, n_shards=2)
    assert _route(monkeypatch, {"a": 1900}, one, n_shards=8, parallelism=2)
    assert not _route(monkeypatch, {"a": 1900}, one, n_shards=8,
                      parallelism=8)


def test_route_rule_p1_always_driver(monkeypatch):
    one = {1: [("a", 1.0)]}
    assert _route(monkeypatch, {"a": 10**5}, one, n_shards=1)
    assert _route(monkeypatch, {"a": 10**5}, one, n_shards=8,
                  parallelism=1)


def test_route_rule_memory_guard_wins(monkeypatch):
    # the postings budget refuses the driver even far below the crossover,
    # and at p = 1
    one = {1: [("a", 1.0), ("b", 1.0)]}
    df = {"a": 60, "b": 50}
    assert _route(monkeypatch, df, one, n_shards=4, crossover=10**6,
                  max_postings=110)
    assert not _route(monkeypatch, df, one, n_shards=4, crossover=10**6,
                      max_postings=100)
    assert not _route(monkeypatch, df, one, n_shards=1, crossover=10**6,
                      max_postings=100)


def test_hundred_query_call_runs_in_driver(built, oracle40, monkeypatch,
                                          spark_jobs):
    """A 100-query call on the fixture index is far below the crossover:
    it launches no Spark job, from the call through the collect, and is
    rank-identical to the oracle. Forcing the Spark route gives the same
    rows bit for bit."""
    qs = make_queries(100)
    index_search(built, qs[:1], k=5)  # warm the vocabulary
    for kw in ({}, {"strategy": "blockmax"}, {"min_match": 2}):
        rows, jobs = spark_jobs(
            lambda: _rows(index_search(built, qs, k=8, **kw))
        )
        assert jobs == [], (kw, jobs)
        okw = {"min_match": 2} if "min_match" in kw else {}
        _assert_oracle(rows, oracle40.search_all(qs, k=8, **okw))
        with monkeypatch.context() as m:
            _distributed(m)
            spark_rows, jobs = spark_jobs(
                lambda: _rows(index_search(built, qs, k=8, **kw))
            )
        assert len(jobs) == 1, (kw, jobs)
        assert spark_rows == rows, kw


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


def test_direct_filtered_with_tombstone_mask(spark, built_attrs, oracle40,
                                             tmp_path):
    """side-direct (where=) composes with the closure tombstone mask:
    the side lists the live qualifying docs, the kernel drops the dead
    postings."""
    import shutil as _sh

    corpus, ix0 = built_attrs
    d = str(tmp_path / "ixsdt")
    _sh.copytree(ix0.index_dir, d)
    rows = corpus.collect()
    victims = [r.doc_id for r in rows[:12]]
    delete_docs(spark, d, victims)
    ix = Index(spark, d)
    allowed = {r.doc_id for r in rows if r.role == "user"} - set(victims)
    got = _rows(index_search(ix, QS, k=8, where={"role": "user"}))
    _assert_oracle(got, oracle40.search_all(QS, k=8, allowed=allowed))
    assert not ({r[2] for r in got} & set(victims))
