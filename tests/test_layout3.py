"""Posting layout 3: what the files hold, where the kernels get doc lengths
from, what refuses older layouts, and the one migration.

- Posting blocks keep term, block_id, n_docs, first_doc, sum_tf and the
  doc-id / tf / position streams (shard_id and term_bucket are
  directories); no per-posting doc length, no block bounds.
- doc_stats sits under group=G/shard_id=S/, each file holding only that
  shard's docs; term_stats is (term, df, cf).
- A shard's norms (index_query._read_shard_norms, cached by
  Index.shard_norms) are the Python tokenizer's length of every live doc,
  a re-ingested doc's newest copy included.
- Search, append_batch and a resumed build refuse an older layout;
  compact_index migrates it (tests/legacy_layout.py writes the old files).
- A build or an append refuses to publish a group whose postings' token
  count differs from its doc_stats' (the two tokenizers disagree).
"""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from legacy_layout import rewrite_as_legacy

from sparkbm25.analysis import tokenize_py
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import (
    _read_shard_norms,
    index_bm25f_search,
    index_phrase_search,
    index_search,
)
from sparkbm25.jobs import Index, build_index, delete_docs, read_manifest
from sparkbm25.oracle import OracleIndex

K = 8
QS = make_queries(20) + [(900, "w0001 w0001 w0003")]
PARAMS = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                     lineage_groups=2, doc_id_scheme="conv_seq",
                     attr_cols=("role",), store_positions=True)
BLOCK_COLS = {"term", "block_id", "n_docs", "first_doc", "sum_tf",
              "docs_vbyte", "tfs_vbyte", "pos_vbyte"}


@pytest.fixture(scope="module")
def corpus(spark):
    df = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(30)), "conv_seq"
    ).select("doc_id", "text", "role")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def rows(corpus):
    return corpus.collect()


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in df.collect()
    )


def _assert_oracle(got, want):
    want = sorted(want)
    assert got and [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def _assert_layout3(d: str, attrs: set) -> None:
    assert read_manifest(d)["build"]["posting_layout"] == 3
    shift = read_manifest(d)["build"]["shard_shift"]
    posting = glob.glob(os.path.join(
        d, "postings", "group=*", "term_bucket=*", "shard_id=*", "*.parquet"))
    assert posting
    for p in posting:
        assert set(pq.read_schema(p).names) == BLOCK_COLS, p
    assert not glob.glob(os.path.join(
        d, "postings", "group=*", "term_bucket=*", "*.parquet"))
    docs = glob.glob(os.path.join(
        d, "doc_stats", "group=*", "shard_id=*", "*.parquet"))
    assert docs
    for p in docs:
        t = pq.read_table(p, partitioning=None)
        assert set(t.column_names) == {"doc_id", "doc_len"} | attrs, p
        shard = int(os.path.basename(os.path.dirname(p)).split("=")[1])
        assert {i >> shift for i in t.column("doc_id").to_pylist()} <= {
            shard}, p
    assert not glob.glob(os.path.join(d, "doc_stats", "group=*", "*.parquet"))
    for p in glob.glob(os.path.join(d, "term_stats", "*.parquet")):
        assert pq.read_schema(p).names == ["term", "df", "cf"]


def test_layout3_files_hold_only_the_kept_columns(spark, corpus, tmp_path):
    d = str(tmp_path / "ix")
    build_index(corpus, d, PARAMS, "pin")
    _assert_layout3(d, {"role"})
    # every doc's length is stored exactly once
    n = sum(pq.read_metadata(p).num_rows for p in glob.glob(os.path.join(
        d, "doc_stats", "group=*", "shard_id=*", "*.parquet")))
    assert n == corpus.count()


def test_norms_are_python_token_counts_of_live_docs(spark, corpus, rows,
                                                    tmp_path):
    """Two groups (base + one append), tombstones, positions, and an id
    deleted then re-ingested with a different length: every live doc's
    norm is len(tokenize_py(text)) of its live copy, on the driver's
    cache and on a Spark task's read alike."""
    from sparkbm25.streaming import append_batch, finalize_stream

    d = str(tmp_path / "ix")
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                         lineage_groups=1, doc_id_scheme="conv_seq",
                         store_positions=True)
    build_index(corpus.select("doc_id", "text"), d, params, "norms")
    texts = {r.doc_id: r.text for r in rows}
    victim, gone = rows[3].doc_id, rows[5].doc_id
    delete_docs(spark, d, [victim, gone])
    new_text = "zzfixedzz " + texts[victim] + " one two three"
    fresh_id = max(texts) + 1
    batch = {victim: new_text, fresh_id: "a brand new turn w0001"}
    append_batch(
        spark.createDataFrame(list(batch.items()), "doc_id long, text string"),
        d, 1,
    )
    finalize_stream(spark, d)
    live = {i: t for i, t in texts.items() if i not in (victim, gone)}
    live.update(batch)
    ix = Index(spark, d)
    assert len(ix.group_seqs()) == 2
    norms = {}
    for s, entry in ix.norm_file_map().items():
        ids, lens = ix.shard_norms(s)
        r_ids, r_lens = _read_shard_norms(entry)
        assert ids.tolist() == r_ids.tolist() == sorted(ids.tolist())
        assert lens.tolist() == r_lens.tolist()
        assert ids.dtype.itemsize + lens.dtype.itemsize == 12
        norms.update(zip(ids.tolist(), lens.tolist()))
    assert {i: norms[i] for i in live} == {
        i: len(tokenize_py(t)) for i, t in live.items()
    }
    assert norms[victim] != len(tokenize_py(texts[victim]))
    # the re-ingested copy is searchable, scored with its new length
    hit = _rows(index_search(ix, [(0, "zzfixedzz")], k=3))
    assert [r[2] for r in hit] == [victim]


def test_missing_norm_raises():
    """A posting whose doc has no doc_stats row is an error, never a
    score with a made-up length."""
    import numpy as np

    from sparkbm25.index_query import _gather_norms

    with pytest.raises(ValueError, match="no doc_stats row"):
        _gather_norms((np.array([1, 5], np.int64), np.array([3, 4], np.int32)),
                      np.array([1, 4], np.int64))
    with pytest.raises(ValueError, match="no doc_stats row"):
        _gather_norms((np.empty(0, np.int64), np.empty(0, np.int32)),
                      np.array([7], np.int64))
    assert _gather_norms(
        (np.array([1, 5], np.int64), np.array([3, 4], np.int32)),
        np.array([5, 1, 5], np.int64),
    ).tolist() == [4.0, 3.0, 4.0]


def test_layout2_index_refused_then_compacted_to_layout3(spark, corpus, rows,
                                                         tmp_path):
    """A layout-2 index (the 0.9 engine's column set and depth) is
    refused by search, phrase search and append_batch with a "compact"
    message; compact_index migrates it to layout 3, and the results are
    oracle-identical for a k1/b override, fields=, phrase and where=."""
    from test_bm25f import _py_bm25f
    from test_phrase_slop import _slop_oracle

    from sparkbm25.streaming import append_batch, compact_index

    d = str(tmp_path / "ix")
    build_index(corpus, d, PARAMS, "legacy2")
    rewrite_as_legacy(d, 2)
    legacy = glob.glob(os.path.join(
        d, "postings", "group=*", "term_bucket=*", "shard_id=*", "*.parquet"))
    assert "dls_vbyte" in pq.read_schema(legacy[0]).names
    assert glob.glob(os.path.join(d, "doc_stats", "group=*", "*.parquet"))
    ix = Index(spark, d)
    assert ix.posting_layout == 2
    docs = [(r.doc_id, r.text) for r in rows]
    phrases = [
        (i, " ".join(tokenize_py(t)[:2])) for i, (_, t) in enumerate(docs[:6])
    ]
    with pytest.raises(ValueError, match="compact"):
        index_search(ix, QS, k=K)
    with pytest.raises(ValueError, match="compact"):
        index_phrase_search(ix, phrases, k=K)
    with pytest.raises(ValueError, match="compact"):
        append_batch(corpus.limit(1), d, 1)

    compact_index(spark, d)
    ix = Index(spark, d)
    assert ix.posting_layout == 3
    _assert_layout3(d, {"role"})
    ora = OracleIndex.build(docs)
    _assert_oracle(_rows(index_search(ix, QS, k=K, k1=0.9, b=0.4)),
                   ora.search_all(QS, k=K, k1=0.9, b=0.4))
    users = {r.doc_id for r in rows if r.role == "user"}
    _assert_oracle(_rows(index_search(ix, QS, k=K, where={"role": "user"})),
                   ora.search_all(QS, k=K, allowed=users))
    _assert_oracle(_rows(index_bm25f_search(ix, QS, k=K)),
                   _py_bm25f(docs, QS, K))
    _assert_oracle(_rows(index_phrase_search(ix, phrases, k=K)),
                   _slop_oracle(docs, phrases, k=K))


def test_resumed_build_refuses_older_layout(spark, corpus, tmp_path):
    from sparkbm25.jobs import InjectedFailure

    d = str(tmp_path / "ix")
    with pytest.raises(InjectedFailure):
        build_index(corpus, d, PARAMS, "resume", fail_after_group=0)
    m = read_manifest(d)
    m["build"]["posting_layout"] = 2
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="rebuild"):
        build_index(corpus, d, PARAMS, "resume")


def _one_doc_one_token_long(monkeypatch, doc_id: int) -> None:
    """Make the JVM doc_len expression count one token more for ``doc_id``
    than the Python tokenizer of stage 1 does."""
    from pyspark.sql import functions as F

    import sparkbm25.jobs as jobs

    real = jobs.tokens_col

    def tokens_col(col="text"):
        return F.when(
            F.col("doc_id") == doc_id, F.concat(real(col), F.array(F.lit("x")))
        ).otherwise(real(col))

    monkeypatch.setattr(jobs, "tokens_col", tokens_col)


def test_tokenizer_disagreement_fails_the_build(spark, corpus, tmp_path,
                                               monkeypatch):
    """The group writer compares the written doc_stats' Σdoc_len with the
    written blocks' Σsum_tf and raises before the group is published."""
    _one_doc_one_token_long(monkeypatch, corpus.first().doc_id)
    d = str(tmp_path / "ix")
    with pytest.raises(ValueError, match="tokenizers disagree"):
        build_index(corpus, d, PARAMS, "guard")
    assert read_manifest(d)["status"] != "COMPLETED"
    with pytest.raises(ValueError, match="not COMPLETED"):
        Index(spark, d)


def test_tokenizer_disagreement_fails_the_append(spark, corpus, tmp_path,
                                                monkeypatch):
    """append_batch runs the same check: it raises, publishes no group
    and leaves the manifest as it was."""
    from pyspark.sql import functions as F

    from sparkbm25.streaming import append_batch

    ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    split = ids[len(ids) // 2]
    d = str(tmp_path / "ix")
    build_index(corpus.filter(F.col("doc_id") < split), d, PARAMS, "base")
    before = read_manifest(d)
    _one_doc_one_token_long(monkeypatch, split)
    with pytest.raises(ValueError, match="tokenizers disagree"):
        append_batch(corpus.filter(F.col("doc_id") >= split), d, epoch_id=5)
    assert read_manifest(d) == before
    for tree in ("postings", "doc_stats"):
        assert not glob.glob(os.path.join(d, tree, "group=stream_5"))
    assert not os.path.exists(os.path.join(d, "append_staging"))
