"""Regression tests for the round-1 self-review findings."""

import pytest
from pyspark.sql import functions as F

from sparkbm25.build import BuildParams, compute_corpus_stats
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_df, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex


def test_hash64_scheme_full_build_and_query(spark, tmp_path):
    """hash64 doc ids span nearly the whole signed-int64 range; the shard
    arithmetic must not overflow (ANSI mode crashes `doc_id - min_doc`)."""
    pdf = make_transcripts_pdf(25)
    corpus = add_doc_id(spark.createDataFrame(pdf), "hash64").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "ix_hash")
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                         lineage_groups=2, doc_id_scheme="hash64")
    m = build_index(corpus, d, params, "hash64")
    assert m["status"] == "COMPLETED"
    ix = Index(spark, d)
    oracle = OracleIndex.build(
        [(r.doc_id, r.text) for r in corpus.collect()]
    )
    queries = make_queries(10)
    for strategy in ("sharded", "blockmax"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id) for r in
            index_search(ix, queries, k=5, strategy=strategy).collect()
        )
        want = sorted((q, rk, did) for q, rk, did, _ in
                      oracle.search_all(queries, k=5))
        assert got == want, strategy


def test_malformed_conv_id_clear_error(spark, tmp_path):
    df = spark.createDataFrame(
        [("conv-001", 0, "some text"), ("session-abc", 0, "other text")],
        "conv_id string, turn_idx int, text string",
    )
    corpus = add_doc_id(df, "conv_seq").select("doc_id", "text")
    with pytest.raises(ValueError, match="NULL doc_id"):
        compute_corpus_stats(corpus, BuildParams())


def test_stream_growth_keeps_idf_positive_and_blockmax_sound(spark, tmp_path):
    """Streamed docs can push a term's df above the base N; finalize must
    lift n_docs so idf stays positive, or blockmax pruning turns unsound."""
    from sparkbm25.streaming import append_batch, finalize_stream

    base = [(i, f"zz base{i % 5} w{i}") for i in range(10)]
    streamed = [(100 + i, f"zz extra{i % 7} v{i}") for i in range(40)]
    params = BuildParams(num_shards=2, salt_factor=1, num_term_buckets=2,
                         lineage_groups=1)
    d = str(tmp_path / "ix_grow")
    build_index(
        spark.createDataFrame(base, "doc_id long, text string"), d, params,
        "grow",
    )
    append_batch(
        spark.createDataFrame(streamed, "doc_id long, text string"), d, 0
    )
    finalize_stream(spark, d)
    ix = Index(spark, d)
    assert ix.n_docs == 50  # lifted to the true total

    from sparkbm25.index_query import _query_weights

    occ = _query_weights(ix, [(0, "zz w3")])
    assert all(w > 0 for _t, w in occ[0])  # df=50 <= N=50

    queries = [(0, "zz"), (1, "zz w3"), (2, "extra2 base1")]
    # frozen-stats emulation: n_docs and df span both batches, avgdl
    # stays the base build's (append never re-averages)
    from sparkbm25.oracle import OracleIndex

    ora = OracleIndex.build(base + streamed)
    assert ora.n_docs == ix.n_docs
    ora.avgdl = ix.avgdl
    ref = sorted(ora.search_all(queries, k=5))
    for strategy in ("sharded", "blockmax"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score) for r in
            index_search(ix, queries, k=5, strategy=strategy).collect()
        )
        assert [g[:3] for g in got] == [w[:3] for w in ref], strategy
        for g, w in zip(got, ref):
            assert g[3] == pytest.approx(w[3], rel=1e-9), strategy


def test_generators_row_identical(spark):
    pdf = make_transcripts_pdf(12)
    ddf = make_transcripts_df(spark, 12).toPandas()
    a = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = ddf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert a["text"].tolist() == b["text"].tolist()
    assert a["role"].tolist() == b["role"].tolist()
    assert len(a) == len(b)


def test_single_file_fingerprint_tracks_content(spark, tmp_path):
    from sparkbm25.sources import source_fingerprint

    p = str(tmp_path / "one.parquet")
    spark.range(3).write.parquet(p)
    # a parquet "file" path from spark is a dir; test a real single file
    f = str(tmp_path / "data.csv")
    with open(f, "w") as fh:
        fh.write("a,b\n1,2\n")
    fp1 = source_fingerprint(spark, f, "csv")
    import os
    import time

    time.sleep(1.1)
    with open(f, "w") as fh:
        fh.write("a,b\n1,2\n3,4\n")
    os.utime(f)
    assert source_fingerprint(spark, f, "csv") != fp1


def test_provided_clustered_ids_shard_balance(spark, tmp_path):
    """ADVICE r01: 1M-dense-plus-far-outlier provided ids must NOT collapse
    into one range-derived shard — the quantile-derived span keeps shards
    count-balanced, and the whole engine stays rank-identical to the
    oracle on such ids."""
    from pyspark.sql import functions as F

    from sparkbm25.build import BuildParams, compute_corpus_stats
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index
    from sparkbm25.oracle import OracleIndex

    n = 2000
    rows = [(i, f"w{i % 37} common filler{i % 11}") for i in range(n)]
    rows.append((1 << 62, "common outlier doc"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    params = BuildParams(num_shards=8, salt_factor=2, num_term_buckets=4,
                         lineage_groups=1)
    stats = compute_corpus_stats(df, params)
    # the dense cluster must be split across shards, not lumped into one
    assert stats.extras["max_shard_docs"] <= 2 * (n // params.num_shards) + 1
    assert stats.extras["nonempty_shards"] <= 64 * params.num_shards

    d = str(tmp_path / "clustered_ix")
    build_index(df, d, params, "clustered")
    ix = Index(spark, d)
    per_shard = (
        ix.postings().groupBy("shard_id")
        .agg(F.sum("n_docs").alias("n")).collect()
    )
    assert len(per_shard) > 1
    oracle = OracleIndex.build(rows)
    queries = [(0, "common"), (1, "w3 filler2")]
    got = sorted((r.query_id, r.rank, r.doc_id)
                 for r in index_search(ix, queries, k=10).collect())
    want = sorted((q, rk, did) for q, rk, did, _ in
                  oracle.search_all(queries, k=10))
    assert got == want


def test_provided_pathological_ids_refused(spark):
    """A dense run plus a uniformly-spread half defeats ANY single
    power-of-two span (balancing the dense run fragments the spread half):
    refused with guidance toward hash64 rather than silently building a
    fragmented index."""
    import pytest

    from sparkbm25.build import BuildParams, compute_corpus_stats

    rows = [(i, f"dense {i}") for i in range(300)]
    rows += [(i * (1 << 50), f"spread {i}") for i in range(1, 301)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="hash64"):
        compute_corpus_stats(df, BuildParams(num_shards=4, salt_factor=2,
                                             num_term_buckets=4,
                                             lineage_groups=1))
