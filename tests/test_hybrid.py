"""Hybrid sparse+dense retrieval (RRF fusion).

Oracle parity vs DuckDB (the driver-gate shape), bit-exact tie handling
across legs, and rank-identity of the artifact-served path (posting
index + full-probe IVF) with the correctness-reference composition."""

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkbm25 import hybrid
from sparkbm25.pipeline import similarity as S

SF = "/root/testdata/sf0.001"
K = 10
N_EACH = 50
HQ = [
    (0, "spark merge join", 0),
    (1, "the window", 1),
    (2, "vector batch stream hash", 2),
    (3, "customer zzabsentzz", 3),  # sparse leg empty for this query
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    return df


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.rrf_score, r.rank_sparse,
         r.rank_dense)
        for r in df.collect()
    )


def test_hybrid_matches_duckdb_oracle(spark, docs, emb):
    got = _rows(hybrid.hybrid_rrf_topk(docs, emb, HQ, k=K, n_each=N_EACH))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    want = sorted(
        (int(q), int(r), int(d), float(s), int(rs), int(rd))
        for q, r, d, s, rs, rd in con.sql(
            hybrid.hybrid_rrf_sql(HQ, k=K, n_each=N_EACH)
        ).fetchall()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == w[3]  # exact: rationals from integer ranks
        assert g[4:] == w[4:]


def test_sparse_empty_query_is_dense_only(spark, docs, emb):
    """A query whose every token is corpus-absent still returns the dense
    leg's ranking (rank_sparse = 0 on every row)."""
    out = hybrid.hybrid_rrf_topk(
        docs, emb, [(3, "zzabsentzz qqnotawordzz", 3)], k=K, n_each=N_EACH
    ).collect()
    assert len(out) == K
    assert all(r.rank_sparse == 0 for r in out)
    # dense-only rrf ordering == the dense leg's own ordering
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [
        r.vec_id
        for r in S.cosine_topk(emb, [3], k=K)
        .orderBy("rank")
        .collect()
    ]


def test_rrf_cross_leg_tie_breaks_on_doc_id(spark):
    """Doc A only in leg one at rank r and doc B only in leg two at the
    same rank r have bitwise-equal rrf scores; doc_id ASC decides."""
    a = spark.createDataFrame(
        [(0, 100, 1), (0, 7, 2)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 5, 1), (0, 200, 2)], "query_id int, doc_id long, rank int"
    )
    out = sorted(
        hybrid.rrf_fuse([("x", a), ("y", b)], k=10).collect(),
        key=lambda r: r.rank,
    )
    # rank-1 pair ties (1/61 each): doc 5 before doc 100;
    # rank-2 pair ties (1/62 each): doc 7 before doc 200
    assert [r.doc_id for r in out] == [5, 100, 7, 200]
    assert out[0].rrf_score == out[1].rrf_score
    assert out[2].rrf_score == out[3].rrf_score


def test_validation():
    with pytest.raises(ValueError, match="duplicate query_ids"):
        hybrid.hybrid_rrf_sql([(0, "a", 0), (0, "b", 1)])
    with pytest.raises(ValueError, match="non-empty"):
        hybrid.hybrid_rrf_sql([])
    with pytest.raises(ValueError, match="duplicate leg names"):
        hybrid.rrf_fuse([("x", None), ("x", None)])
    with pytest.raises(ValueError, match="at least one leg"):
        hybrid.rrf_fuse([])


@pytest.fixture(scope="module")
def artifacts(spark, docs, emb, tmp_path_factory):
    from sparkbm25.build import BuildParams
    from sparkbm25.jobs import Index, build_index

    ix_dir = str(tmp_path_factory.mktemp("hyb_ix"))
    build_index(
        docs.select("doc_id", "text"),
        ix_dir,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="provided"),
        source_fingerprint="hybrid500",
    )
    ann_dir = str(tmp_path_factory.mktemp("hyb_ann"))
    S.build_ann_index(emb, ann_dir, n_centroids=8)
    return Index(spark, ix_dir), ann_dir


def test_indexed_hybrid_rank_identical_at_full_probe(
    spark, docs, emb, artifacts
):
    """Artifact-served hybrid (posting index + IVF probing every
    centroid) must be rank-identical — and rrf-score-identical — to the
    corpus-scan + exact-cosine reference composition."""
    ix, ann_dir = artifacts
    query_vecs = {
        int(r.vec_id): list(r.embedding)
        for r in emb.filter(F.col("vec_id").isin([q[2] for q in HQ]))
        .collect()
    }
    want = _rows(hybrid.hybrid_rrf_topk(docs, emb, HQ, k=K, n_each=N_EACH))
    got = _rows(
        hybrid.hybrid_rrf_topk_indexed(
            spark, ix, ann_dir, HQ, query_vecs,
            k=K, n_each=N_EACH, n_probe=8,
        )
    )
    assert got == want


def test_indexed_missing_probe_vec_raises(spark, artifacts):
    ix, ann_dir = artifacts
    with pytest.raises(ValueError, match="missing probe ids"):
        hybrid.hybrid_rrf_topk_indexed(
            spark, ix, ann_dir, [(0, "spark", 7)], {0: [0.0]}
        )
