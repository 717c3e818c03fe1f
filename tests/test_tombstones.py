"""Tombstones and vocabulary read in the driver with pyarrow.

One reader builds the tombstone mask (jobs.tombstone_pair): sorted ids
with each id's max delete seq, legacy rows without a seq masking every
group. The pair must equal a Spark coalesce + groupBy max over the same
files, and with it and the pyarrow vocabulary read, opening an index or
refreshing it after a delete and running a point query launches no
Spark job.
"""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkbm25.build import BuildParams
from sparkbm25.index_query import index_search
from sparkbm25.jobs import (
    LEGACY_DEL_SEQ,
    TOMBSTONES_DIR,
    Index,
    build_index,
    delete_docs,
    read_manifest,
    read_tombstones,
    tombstone_pair,
)
from sparkbm25.streaming import append_batch, finalize_stream


def _docs(ids, seed):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        [(i, " ".join(f"w{int(rng.integers(0, 40)):02d}" for _ in range(8)))
         for i in ids],
        columns=["doc_id", "text"],
    )


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """Two lineage groups: a base build, a legacy tombstone file with no
    del_seq column (ids 3 and 30), id 10 deleted twice, and id 20
    deleted and then re-ingested in an appended group."""
    d = str(tmp_path_factory.mktemp("tombs") / "ix")
    build_index(
        spark.createDataFrame(_docs(range(0, 200), 5)), d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, doc_id_scheme="provided"),
        "tombs",
    )
    tdir = os.path.join(d, TOMBSTONES_DIR)
    os.makedirs(tdir)
    pq.write_table(pa.table({"doc_id": pa.array([30, 3], pa.int64())}),
                   os.path.join(tdir, "part-legacy.parquet"))
    delete_docs(spark, d, [3, 10, 20])
    delete_docs(spark, d, [10, 41])
    append_batch(spark.createDataFrame(_docs([20], 6)), d, epoch_id=0)
    finalize_stream(spark, d)
    return d


def test_pair_matches_spark_aggregation(spark, tombstoned):
    ids, seqs = tombstone_pair(tombstoned)
    want = (
        spark.read.schema("doc_id long, del_seq long")
        .parquet(os.path.join(tombstoned, TOMBSTONES_DIR))
        .withColumn("del_seq", F.coalesce("del_seq", F.lit(LEGACY_DEL_SEQ)))
        .groupBy("doc_id").agg(F.max("del_seq").alias("del_seq"))
        .orderBy("doc_id").collect()
    )
    assert ids.dtype == seqs.dtype == np.int64
    assert list(zip(ids.tolist(), seqs.tolist())) == [tuple(r) for r in want]
    got = dict(zip(ids.tolist(), seqs.tolist()))
    assert got[3] == got[30] == LEGACY_DEL_SEQ  # legacy rows win the max
    assert got[10] == 2 and got[41] == 2  # id 10's second delete
    assert read_manifest(tombstoned)["metrics"]["n_deleted"] == len(ids)

    ix = Index(spark, tombstoned)
    for a, b in zip(ix.tombstones_pair(), (ids, seqs)):
        assert np.array_equal(a, b)
    frame = read_tombstones(spark, tombstoned).collect()
    assert [tuple(r) for r in frame] == [tuple(r) for r in want]
    # the re-ingested id keeps exactly its new copy; every other
    # tombstoned id has no live row
    live = sorted(r.doc_id for r in ix.live_doc_stats().collect())
    assert live == sorted(set(range(200)) - {3, 10, 30, 41})
    hits = {r.doc_id for r in index_search(
        ix, [(0, _docs([20], 6).text[0])], k=10).collect()}
    assert 20 in hits and not hits & {3, 10, 30, 41}


def test_vocabulary_matches_spark(spark, tombstoned, monkeypatch):
    """The pyarrow preload, the lazy pushed-down lookup and the footer
    term count give what the Spark reads give."""
    ix = Index(spark, tombstoned)
    want = {r.term: r.df
            for r in ix.term_stats().select("term", "df").collect()}
    terms = sorted(want)[:5] + ["absent"]
    assert ix.term_stats_lookup(terms) == {t: want[t] for t in terms[:5]}
    assert ix._stats_cache == want

    monkeypatch.setattr(Index, "STATS_PRELOAD_MAX_TERMS", 0)
    lazy = Index(spark, tombstoned)
    del lazy.manifest["build"]["n_terms"]  # a pre-0.3 manifest
    assert lazy.term_stats_lookup(terms) == {t: want[t] for t in terms[:5]}
    assert not lazy._stats_preloaded
    assert lazy.manifest["build"]["n_terms"] == ix.term_stats().count()


def test_open_and_refresh_launch_no_job(spark, tombstoned, tmp_path,
                                         spark_jobs):
    """An Index open, and a refresh() after delete_docs, each followed
    by a point query: no Spark job, and the new delete is masked."""
    d = str(tmp_path / "ix")
    shutil.copytree(tombstoned, d)
    text = _docs(range(0, 200), 5).text[7]
    ix = Index(spark, d)
    assert 7 in {r.doc_id for r in index_search(ix, [(0, text)], k=10)
                 .collect()}

    delete_docs(spark, d, [7])
    hits, jobs = spark_jobs(lambda: {
        r.doc_id for r in index_search(ix.refresh(), [(0, text)], k=10)
        .collect()
    })
    assert jobs == [] and hits and 7 not in hits
    hits, jobs = spark_jobs(lambda: {
        r.doc_id for r in index_search(Index(spark, d), [(0, text)], k=10)
        .collect()
    })
    assert jobs == [] and hits and 7 not in hits
