"""The one block reader (index_query._read_shard_blocks) must return the
same table as a pyarrow.dataset read of the same files with the term
filter pushed down: same rows in the same file and lineage-group order,
the same ``gseq`` tag, the same types, one chunk per column.

The reference below is the dataset read written out here, so the reader
is pinned to it on a two-group tombstoned index, on a file of many small
row groups (where the reader's statistics pruning skips some), on an
empty file list and on terms that a file does not hold."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.index_query import _read_shard_blocks
from sparkbm25.jobs import Index, build_index, delete_docs
from sparkbm25.streaming import append_batch, finalize_stream
from sparkbm25.xxhash64 import spark_pmod_bucket

COLS = ["term", "n_docs", "docs_vbyte", "tfs_vbyte"]


def _dataset_read(entry, cols, terms, need_gseq):
    """Reference: one pyarrow.dataset per file list, term filter pushed
    down, files grouped by gseq and tagged with it when asked."""
    if not entry:
        return pa.table({
            c: pa.array([], pa.null())
            for c in cols + (["gseq"] if need_gseq else [])
        })
    filt = pads.field("term").isin(terms)

    def read(paths):
        return pads.dataset(paths, format="parquet").to_table(
            columns=cols, filter=filt, use_threads=False
        )

    if not need_gseq:
        return read([p for _, p in entry]).combine_chunks()
    by_gs = {}
    for g, p in entry:
        by_gs.setdefault(int(g), []).append(p)
    parts = []
    for g, ps in sorted(by_gs.items()):
        part = read(ps)
        parts.append(part.append_column(
            "gseq", pa.array(np.full(part.num_rows, g, dtype=np.int64))
        ))
    return pa.concat_tables(parts).combine_chunks()


def _assert_same(entry, cols, terms, need_gseq):
    got = _read_shard_blocks(entry, cols, terms, need_gseq)
    want = _dataset_read(entry, cols, terms, need_gseq)
    assert got.schema == want.schema
    assert got.equals(want)
    assert all(c.num_chunks == 1 for c in got.columns)
    return got


@pytest.fixture(scope="module")
def two_groups(spark, tmp_path_factory):
    """Base build (group 0) + a streamed append into the same id range
    (group 1), then a delete: every shard holds files of both groups."""
    rng = np.random.default_rng(11)

    def docs(ids):
        return pd.DataFrame(
            [(i, " ".join(f"w{int(rng.integers(0, 60)):02d}"
                          for _ in range(8))) for i in ids],
            columns=["doc_id", "text"],
        )

    d = str(tmp_path_factory.mktemp("reader") / "ix")
    build_index(
        spark.createDataFrame(docs(range(0, 400, 2))), d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, doc_id_scheme="provided"),
        "reader",
    )
    append_batch(spark.createDataFrame(docs(range(1, 400, 2))), d,
                 epoch_id=0)
    finalize_stream(spark, d)
    delete_docs(spark, d, [3, 10, 201])
    return Index(spark, d)


@pytest.mark.parametrize("need_gseq", [False, True])
def test_two_group_tombstoned_index(two_groups, need_gseq):
    ix = two_groups
    assert ix.n_deleted() > 0
    terms = ["w03", "w17", "w42", "w59", "absent"]
    fm = ix.shard_file_map(sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in terms}
    ))
    assert fm
    for entry in fm.values():
        # the files of one shard span both lineage groups, listed with
        # the appended group's files not necessarily last
        assert len({int(g) for g, _ in entry}) == 2
        for order in (entry, entry[::-1]):
            got = _assert_same(order, COLS, terms, need_gseq)
            assert got.num_rows > 0
            if need_gseq:
                assert set(got.column("gseq").to_pylist()) == {
                    int(g) for g, _ in entry
                }


@pytest.fixture(scope="module")
def small_groups(tmp_path_factory):
    """Term-sorted files of many small row groups: two with statistics,
    one without (its row groups can never be skipped)."""
    d = tmp_path_factory.mktemp("rowgroups")
    entry = []
    for i, (lo, stats) in enumerate([(0, True), (100, True), (50, False)]):
        terms = [f"t{j:03d}" for j in range(lo, lo + 100) for _ in range(3)]
        t = pa.table({
            "term": terms,
            "n_docs": pa.array(np.arange(len(terms)) % 7, pa.int32()),
            "docs_vbyte": [bytes([j % 251]) * 3 for j in range(len(terms))],
        })
        path = str(d / f"part-{i}.parquet")
        pq.write_table(t, path, row_group_size=30, write_statistics=stats)
        entry.append((i % 2, path))
    return entry


@pytest.mark.parametrize("need_gseq", [False, True])
def test_small_row_groups_are_pruned(small_groups, monkeypatch, need_gseq):
    cols = ["term", "n_docs", "docs_vbyte"]
    terms = ["t005", "t120", "t060", "t199"]
    read = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        read.append(len(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    got = _assert_same(small_groups, cols, terms, need_gseq)
    assert sorted(set(got.column("term").to_pylist())) == sorted(terms)
    # t060 and t120 are in two files each
    assert got.num_rows == 3 * len(terms) + 6
    # 10 row groups of 10 terms per file: the two files with statistics
    # read 2 of theirs, the file without statistics reads all 10
    assert sorted(read) == [2, 2, 10]


def test_empty_entry():
    for need_gseq in (False, True):
        got = _assert_same([], ["term", "n_docs"], ["t005"], need_gseq)
        assert got.num_rows == 0


@pytest.mark.parametrize("need_gseq", [False, True])
def test_terms_absent_from_files(small_groups, need_gseq):
    cols = ["term", "n_docs", "docs_vbyte"]
    # inside one file's term range but not held (statistics cannot skip
    # it), below every file's range, and past every file's range
    for terms in (["t005x"], ["a"], ["zzz", "t005x"]):
        got = _assert_same(small_groups, cols, terms, need_gseq)
        assert got.num_rows == 0
        assert got.schema.field("term").type == pa.string()
    # absent terms next to a present one change nothing
    got = _assert_same(small_groups, cols, ["a", "t150", "zzz"], need_gseq)
    assert set(got.column("term").to_pylist()) == {"t150"}
