"""The dense fold on a skewed corpus: 'blockmax' equals 'sharded'.

``strategy='blockmax'`` once ran an interval-level block-max pruner
in front of the dense fold. The pruner is gone and both strategies run
the same kernel; these tests keep the corpus that made pruning matter
(a hot stripe of high-tf docs at the top of the id range) because it
still stresses the fold where a wrong mask would show: the top-scoring
docs deleted, filtered out, or split across shards.

Contract pinned by these tests:
- bit-exact identity of 'blockmax' with 'sharded', and rank identity
  with the pure-Python OracleIndex, under k1/b overrides;
- the same under tombstones that delete the hot docs, under where=
  filters that exclude them, and under mode='and' / min_match;
- distributed tombstones on the side-direct plan (the anchor rows keep
  tombstone-free shards in the result), with and without exclude=.
"""

import pandas as pd
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex


def test_blockmax_masked_bit_exact_skewed(skewed, spark, tmp_path):
    """Tombstones that remove the TOP-SCORING hot docs: the fold's
    tombstone mask must drop them and rank the survivors, bit-identical
    across strategies, for OR, mode='and' and min_match."""
    import shutil

    from sparkbm25.jobs import delete_docs

    d2 = str(tmp_path / "tomb_copy")
    shutil.copytree(skewed.index_dir, d2)
    # delete most of the hot stripe: survivors' scores sit far below
    # the dead docs'
    delete_docs(spark, d2, list(range(1500, 1590)))
    tix = Index(spark, d2)
    for kw in ({}, {"mode": "and"}, {"min_match": 2}):
        sh = _rows(index_search(tix, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(tix, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def test_blockmax_filtered_bit_exact(spark, tmp_path_factory):
    """where= masks the fold to the qualifying side — bit-identical
    across strategies even when every hot doc is filtered OUT (the
    filter analog of the tombstone case above)."""
    pdf = _skewed_pdf()
    pdf["role"] = ["user" if i < 1500 else "tool"
                   for i in range(len(pdf))]
    corpus = add_doc_id(
        spark.createDataFrame(pdf), "conv_seq"
    ).select("doc_id", "text", "role")
    d = str(tmp_path_factory.mktemp("prune_qual_ix"))
    build_index(
        corpus, d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, block_size=64,
                    attr_cols=("role",), doc_id_scheme="conv_seq"),
        "pq",
    )
    ix = Index(spark, d)
    # the filter excludes the whole hot stripe (role='tool')
    for kw in (
        {"where": {"role": "user"}},
        {"where": {"role": "user"}, "mode": "and"},
        {"where": {"role": "tool"}},
    ):
        sh = _rows(index_search(ix, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(ix, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def test_blockmax_conjunctive_bit_exact_skewed(skewed):
    """mode='and' and min_match (the fold's coverage test) are
    bit-identical across strategies, k1/b overrides included."""
    for kw in (
        {"mode": "and"},
        {"min_match": 2},
        {"mode": "and", "k1": 0.9, "b": 0.4},
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def _skewed_pdf(n_docs=1600, hot_from=1500, hot_tf=40):
    """Skewed corpus: 'alpha' appears once in every doc but hot_tf
    times in the docs at the top of the id range, so the top scores
    all sit in alpha's last blocks."""
    rows = []
    for i in range(n_docs):
        tf = hot_tf if i >= hot_from else 1
        text = " ".join(
            ["alpha"] * tf + [f"w{i % 37:04d}", f"w{(i * 7) % 53:04d}"]
        )
        rows.append((f"c{i:06d}", 0, "user", text, None, None))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


QS = [(1, "alpha"), (2, "alpha w0003"), (3, "w0007 w0011"),
      (4, "alpha alpha w0005")]


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    return add_doc_id(
        spark.createDataFrame(_skewed_pdf()), "conv_seq"
    ).select("doc_id", "text")


@pytest.fixture(scope="module")
def skewed_oracle(skewed_corpus):
    return OracleIndex.build(
        [(r.doc_id, r.text) for r in skewed_corpus.collect()]
    )


@pytest.fixture(scope="module")
def skewed(spark, skewed_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prune_ix"))
    build_index(
        skewed_corpus, d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, block_size=64,
                    doc_id_scheme="conv_seq"),
        "prune",
    )
    return Index(spark, d)


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in df.collect()
    )


def _assert_oracle(got, want):
    """``got`` (sorted engine rows) rank-identical to the oracle's
    ``search_all`` rows, scores to 1e-9."""
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_blockmax_prune_bit_exact_skewed(skewed, skewed_oracle):
    for kw in (
        {},
        {"k1": 0.9, "b": 0.4},
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw
        _assert_oracle(bm, skewed_oracle.search_all(QS, k=10, **kw))


def test_blockmax_tombstoned_hot_shard_oracle(skewed, skewed_oracle, spark):
    """Tombstones with no `where=` run the direct plan with the closure
    mask. The hot docs are deleted — all in ONE shard. Every strategy,
    and exclude=, must stay rank-identical to the oracle over the live
    docs, with hits from the tombstone-free shards."""
    import shutil

    from sparkbm25.jobs import delete_docs

    d2 = skewed.index_dir + "_cotomb"
    shutil.rmtree(d2, ignore_errors=True)
    shutil.copytree(skewed.index_dir, d2)
    # delete the hot tail (the top-scoring docs)
    victims = [i << 20 for i in range(1500, 1600)]
    delete_docs(spark, d2, victims)
    ix = Index(spark, d2)
    shift = ix.shard_shift
    tomb_shards = {v >> shift for v in victims}
    assert len(tomb_shards) == 1
    live = set(skewed_oracle.doc_len) - set(victims)
    excl = {q: "w0019" for q, _ in QS}
    for kw in (
        {"strategy": "sharded"},
        {"strategy": "blockmax"},
        {"strategy": "blockmax", "exclude": excl},
    ):
        got = _rows(index_search(ix, QS, k=10, **kw))
        want = skewed_oracle.search_all(
            QS, k=10, allowed=live, exclude=kw.get("exclude")
        )
        assert got, kw
        _assert_oracle(got, want)
        hit_ids = {r[2] for r in got}
        assert not (hit_ids & set(victims)), kw
        assert {h >> shift for h in hit_ids} - tomb_shards, kw
    shutil.rmtree(d2, ignore_errors=True)
