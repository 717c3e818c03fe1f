"""More-like-this: oracle parity, selection determinism, indexed-path
rank-identity, and edge semantics (source exclusion, thresholds,
absent sources)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkbm25 import mlt

SF = "/root/testdata/sf0.001"
K = 10
LIKE = [0, 3, 7]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    df.cache().count()
    return df


def _rows(df):
    return sorted(
        (r.like_id, r.rank, r.doc_id, round(r.score, 6)) for r in df.collect()
    )


def _oracle(sql):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    return sorted(
        (int(l), int(r), int(d), round(float(s), 6))
        for l, r, d, s in con.sql(sql).fetchall()
    )


def test_mlt_matches_duckdb_oracle(spark, docs):
    got = _rows(mlt.more_like_this(docs, LIKE, k=K, max_terms=10))
    want = _oracle(mlt.more_like_this_sql(LIKE, k=K, max_terms=10))
    assert got == want
    assert len(got) == K * len(LIKE)


def test_mlt_thresholds_match_oracle(spark, docs):
    got = _rows(
        mlt.more_like_this(docs, [0, 1], k=K, max_terms=5, min_tf=2,
                           min_df=2)
    )
    want = _oracle(
        mlt.more_like_this_sql([0, 1], k=K, max_terms=5, min_tf=2, min_df=2)
    )
    assert got == want


def test_source_doc_never_in_own_result(spark, docs):
    out = mlt.more_like_this(docs, LIKE, k=K).collect()
    assert all(r.doc_id != r.like_id for r in out)


def test_absent_like_id_contributes_no_rows(spark, docs):
    out = mlt.more_like_this(docs, [0, 10**9], k=K)
    lids = {r.like_id for r in out.collect()}
    assert lids == {0}


def test_selection_weight_and_order():
    # rarer term outranks commoner at equal tf; higher tf outranks at
    # equal df; term ASC on exact ties
    sel = mlt.select_terms(
        {1: {"rare": 2, "common": 2, "beta": 1, "alpha": 1}},
        {"rare": 2, "common": 50, "beta": 5, "alpha": 5},
        n_docs=100, max_terms=3, min_tf=1, min_df=1,
    )
    assert sel == {1: ["rare", "alpha", "beta"]}
    # min_tf / min_df gates
    sel = mlt.select_terms(
        {1: {"a": 1, "b": 3}}, {"a": 1, "b": 1},
        n_docs=10, max_terms=5, min_tf=2, min_df=1,
    )
    assert sel == {1: ["b"]}
    sel = mlt.select_terms(
        {1: {"a": 5}}, {"a": 1}, n_docs=10, max_terms=5, min_tf=1, min_df=2,
    )
    assert sel == {}


def test_validation():
    with pytest.raises(ValueError, match="non-empty"):
        mlt.more_like_this_sql([])
    with pytest.raises(ValueError, match="duplicate"):
        mlt.more_like_this_sql([1, 1])
    with pytest.raises(ValueError, match="max_terms"):
        mlt.more_like_this_sql([1], max_terms=0)
    with pytest.raises(ValueError, match="min_df"):
        mlt.more_like_this_sql([1], min_df=-1)


@pytest.fixture(scope="module")
def mlt_ix(spark, docs, tmp_path_factory):
    from sparkbm25.build import BuildParams
    from sparkbm25.jobs import Index, build_index

    ix_dir = str(tmp_path_factory.mktemp("mlt_ix"))
    build_index(
        docs,
        ix_dir,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="provided",
                    store_text=True),
        source_fingerprint="mlt500",
    )
    return Index(spark, ix_dir)


def test_indexed_mlt_rank_identical(spark, docs, mlt_ix):
    want = _rows(mlt.more_like_this(docs, LIKE, k=K, max_terms=10))
    for strategy in ("sharded", "blockmax"):
        got = _rows(
            mlt.index_more_like_this(mlt_ix, LIKE, k=K, max_terms=10,
                                     strategy=strategy)
        )
        assert got == want, strategy


def test_indexed_mlt_routes_bit_identical(spark, mlt_ix, monkeypatch):
    # three sources fit the in-driver serve; 0 forces the Spark plan
    import sparkbm25.index_query as iq

    a = _rows(mlt.index_more_like_this(mlt_ix, LIKE, k=K))
    monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_QUERIES", 0)
    b = _rows(mlt.index_more_like_this(mlt_ix, LIKE, k=K))
    assert a == b and a


def test_indexed_mlt_needs_stored_text(spark, docs, tmp_path_factory):
    from sparkbm25.build import BuildParams
    from sparkbm25.jobs import Index, build_index

    ix_dir = str(tmp_path_factory.mktemp("mlt_ix_notext"))
    build_index(
        docs, ix_dir,
        BuildParams(num_shards=2, salt_factor=1, num_term_buckets=4,
                    lineage_groups=1, doc_id_scheme="provided"),
        source_fingerprint="mlt500nt",
    )
    with pytest.raises(ValueError, match="store_text"):
        mlt.index_more_like_this(Index(spark, ix_dir), LIKE)
