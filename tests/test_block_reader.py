"""The one block reader (index_query._read_shard_blocks) must return the
same table as a pyarrow.dataset read of the same files with the term
filter pushed down: same rows in the same file and lineage-group order,
the same ``gseq`` tag, the same types, one chunk per column.

The reference below is the dataset read written out here, so the reader
is pinned to it on a two-group tombstoned index, on a file of many small
row groups (where the reader's statistics pruning skips some), on an
empty file list and on terms that a file does not hold.

Read through the driver route's row-group cache (index_query._BlockCache)
the reader must return the uncached reader's tables, schema metadata
included, on a miss and on a hit, when a later call asks for a column an
earlier one did not read, under a budget smaller than the index and with
several threads sharing one cache; the cached bytes never pass the
budget."""

import sys
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.index_query import (
    DRIVER_BLOCK_CACHE_BYTES,
    _BlockCache,
    _read_shard_blocks,
)
from sparkbm25.jobs import Index, build_index, delete_docs
from sparkbm25.streaming import append_batch, finalize_stream
from sparkbm25.xxhash64 import spark_pmod_bucket

COLS = ["term", "n_docs", "docs_vbyte", "tfs_vbyte"]
TERMS = ["w03", "w17", "w42", "w59", "absent"]


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
                    lineage_groups=1, doc_id_scheme="provided",
                    store_positions=True),
        "reader",
    )
    append_batch(spark.createDataFrame(docs(range(1, 400, 2))), d,
                 epoch_id=0)
    finalize_stream(spark, d)
    delete_docs(spark, d, [3, 10, 201])
    return Index(spark, d)


def _file_map(ix):
    return ix.shard_file_map(sorted(
        {spark_pmod_bucket(t, ix.num_term_buckets) for t in TERMS}
    ))


@pytest.mark.parametrize("need_gseq", [False, True])
def test_two_group_tombstoned_index(two_groups, need_gseq):
    ix = two_groups
    assert ix.n_deleted() > 0
    fm = _file_map(ix)
    assert fm
    for entry in fm.values():
        # the files of one shard span both lineage groups, listed with
        # the appended group's files not necessarily last
        assert len({int(g) for g, _ in entry}) == 2
        for order in (entry, entry[::-1]):
            got = _assert_same(order, COLS, TERMS, need_gseq)
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


def _assert_cached_same(entry, cols, terms, need_gseq, cache):
    got = _read_shard_blocks(entry, cols, terms, need_gseq, cache)
    want = _read_shard_blocks(entry, cols, terms, need_gseq)
    assert got.equals(want, check_metadata=True)
    assert all(c.num_chunks == 1 for c in got.columns)
    return got


def _cached_bytes(cache):
    return sum(a.nbytes for a in cache._cols.values())


@pytest.mark.parametrize("need_gseq", [False, True])
@pytest.mark.parametrize("cols", [COLS, COLS + ["pos_vbyte"]])
def test_cached_reader_matches_uncached(two_groups, monkeypatch, cols,
                                        need_gseq):
    """A miss reads and keeps the row groups; a hit returns the same
    table without opening a file."""
    fm = _file_map(two_groups)
    cache = _BlockCache(DRIVER_BLOCK_CACHE_BYTES)
    for entry in fm.values():
        got = _assert_cached_same(entry, cols, TERMS, need_gseq, cache)
        assert got.num_rows > 0
        if "pos_vbyte" in cols:  # positional build: the stream is stored
            assert got.column("pos_vbyte").null_count == 0
    assert 0 < cache.nbytes == _cached_bytes(cache)

    def refuse(*a, **kw):
        raise AssertionError("a cache hit opened a parquet file")

    want = {s: _read_shard_blocks(e, cols, TERMS, need_gseq)
            for s, e in fm.items()}
    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", refuse)
        for s, entry in fm.items():
            got = _read_shard_blocks(entry, cols, TERMS, need_gseq, cache)
            assert got.equals(want[s], check_metadata=True)
        # a term of no kept row group: pruned from the cached bounds
        got = _read_shard_blocks(next(iter(fm.values())), cols, ["a"],
                                 need_gseq, cache)
        assert got.num_rows == 0 and got.schema.names[:len(cols)] == cols


def test_cache_reads_only_missing_columns(two_groups, monkeypatch):
    fm = _file_map(two_groups)
    cache = _BlockCache(DRIVER_BLOCK_CACHE_BYTES)
    for entry in fm.values():
        _assert_cached_same(entry, COLS, TERMS, True, cache)
    asked = []
    real = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        asked.append(tuple(columns))
        return real(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    for entry in fm.values():
        _assert_cached_same(entry, COLS + ["pos_vbyte"], TERMS, True, cache)
    # the uncached reference reads with read_row_groups, not the spy
    assert asked and set(asked) == {("pos_vbyte",)}


def test_cache_stays_within_budget(two_groups, small_groups):
    """A budget below the index: every call still returns the uncached
    table and the cached bytes never pass the budget; a budget below
    every column keeps nothing."""
    fm = _file_map(two_groups)
    calls = [(e, COLS + ["pos_vbyte"], TERMS) for e in fm.values()]
    calls += [(small_groups, ["term", "n_docs", "docs_vbyte"],
               ["t005", "t120", "t060", "t199"])]
    full = _BlockCache(DRIVER_BLOCK_CACHE_BYTES)
    for entry, cols, terms in calls:
        _assert_cached_same(entry, cols, terms, True, full)
    for budget in (full.nbytes // 3, 1):
        cache = _BlockCache(budget)
        for _ in range(3):
            for entry, cols, terms in calls:
                _assert_cached_same(entry, cols, terms, True, cache)
                assert cache.nbytes == _cached_bytes(cache) <= budget
        assert (cache.nbytes > 0) == (budget > 1)


def test_cache_shared_by_threads(two_groups):
    """More threads than cores share one small cache: every read equals
    the uncached one and the byte count matches the kept columns."""
    fm = _file_map(two_groups)
    want = {s: _read_shard_blocks(e, COLS, TERMS, True)
            for s, e in fm.items()}
    full = _BlockCache(DRIVER_BLOCK_CACHE_BYTES)
    for entry in fm.values():
        _read_shard_blocks(entry, COLS, TERMS, True, full)
    cache = _BlockCache(full.nbytes // 2)
    errors = []

    def work():
        try:
            for _ in range(20):
                for s, entry in fm.items():
                    got = _read_shard_blocks(entry, COLS, TERMS, True, cache)
                    if not got.equals(want[s]):
                        errors.append(s)
        except Exception as e:  # reported below; a thread cannot raise
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert 0 < cache.nbytes == _cached_bytes(cache) <= cache.budget
