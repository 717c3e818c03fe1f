"""Interval-level block-max pruning for the dense kernel (round 6).

BENCH_BOOL_AB.json measured the per-block WAND kernel losing to the
dense sharded kernel at every benchable batch size, core count, and
even the decode-heaviest high-df regime on this corpus: the bounds
could pay, the per-block Python call overhead didn't. The answer
pinned here: ``strategy='blockmax'`` in the clean shape (no
tombstones / where / boolean / field weights) now runs the bounds
analysis VECTORIZED over doc-range intervals (``_interval_prune``)
and feeds only surviving blocks to the unchanged densified fold —
pruned search that degrades to dense-kernel speed when the bounds
exclude nothing, and skips decode when they do.

Contract pinned by these tests:
- bit-exact identity with 'sharded' and rank identity with the
  pure-Python OracleIndex, under k1/b overrides (derived bounds) and
  under distributed tombstones (the side-direct plan's anchor rows);
- on a skewed corpus the prune provably drops blocks (asserted on the
  real index's block metadata, not a synthetic frame);
- on a bounds-hostile frame the analysis reports "nothing excludable"
  (None) so the caller pays zero per-query masking;
- masked/boolean/field-weighted shapes refuse prune_bounds (their
  theta bootstrap needs decode-time masking — they keep the WAND
  kernel).

Reference analog: pruning serves every search unconditionally in the
reference harness (benchmarking/search/search_indices.py:16-20); the
interval formulation is the Spark-batch-friendly equivalent of Ding &
Suel's block-max WAND (SIGIR'11).
"""

import glob

import numpy as np
import pandas as pd
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.index_query import (
    _interval_prune,
    _sharded_topk_fn,
    index_search,
)
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex


def _mk_pdf(rows):
    return pd.DataFrame(
        rows,
        columns=[
            "term", "first_doc", "last_doc", "n_docs",
            "max_tf_norm", "min_tf_norm",
        ],
    )


def _prune(pdf, q_terms, k=3, mode="stored"):
    return _interval_prune(
        pdf, q_terms, k1=1.2, b=0.75, avgdl=10.0, k=k,
        mode=mode,
    )


def test_unit_skewed_drops_low_blocks():
    # one term, three blocks; the last block's 8 postings all bound
    # >= 5.0 while the first two blocks bound <= 0.5 -> theta >= 5.0
    # (k=3 <= 8) kills intervals covering only the first two blocks.
    pdf = _mk_pdf([
        ("t", 0, 99, 8, 0.5, 0.1),
        ("t", 100, 199, 8, 0.5, 0.1),
        ("t", 200, 299, 8, 6.0, 5.0),
    ])
    out = _prune(pdf, {1: [("t", 1.0)]}, k=3)
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, False, True]
    live = live_of[1]
    # the interval holding docs 200..299 is live, earlier ones dead
    ival = np.searchsorted(bounds, 250, side="right") - 1
    assert live[ival]
    assert not live[np.searchsorted(bounds, 50, side="right") - 1]


def test_unit_hostile_returns_none():
    # uniform bounds: theta equals every block's upper bound, nothing
    # excludable -> None (the caller runs the plain dense path)
    pdf = _mk_pdf([
        ("t", 0, 99, 8, 1.0, 1.0),
        ("t", 100, 199, 8, 1.0, 1.0),
    ])
    assert _prune(pdf, {1: [("t", 1.0)]}, k=3) is None


def test_unit_multi_query_union_keeps_shared_blocks():
    # q1 prunes to the high block of t1; q2 matches only t2 (uniform,
    # unprunable) -> t2's block overlapping q1's dead interval must
    # still be decoded (kept) for q2, and q1's mask must not leak to q2
    pdf = _mk_pdf([
        ("t1", 0, 99, 8, 0.5, 0.1),
        ("t1", 200, 299, 8, 6.0, 5.0),
        ("t2", 0, 299, 8, 1.0, 1.0),
    ])
    out = _prune(pdf, {1: [("t1", 1.0)], 2: [("t2", 1.0)]}, k=3)
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, True, True]
    assert 1 in live_of and 2 not in live_of  # q2 has no dead interval


def test_unit_theta_zero_when_k_unreachable():
    # fewer than k postings -> no theta bootstrap -> nothing excludable
    pdf = _mk_pdf([("t", 0, 99, 2, 9.0, 8.0)])
    assert _prune(pdf, {1: [("t", 1.0)]}, k=5) is None


def test_kernel_refuses_prune_with_masking_shapes():
    # and_need, tombstones and the qualifying side COMPOSE with
    # prune_bounds (coverage-aware / mask-exact seed theta); exclusion,
    # field weights and cursors still refuse — a partial decode cannot
    # prove a doc does NOT contain a MUST_NOT term
    with pytest.raises(ValueError, match="prune_bounds"):
        _sharded_topk_fn(
            {1: [("t", 1.0)]}, 1.2, 0.75, 10.0, 5,
            exclude={1: ["x"]}, prune_bounds="stored",
        )
    with pytest.raises(ValueError, match="prune_bounds"):
        _sharded_topk_fn(
            {1: [("t", 1.0)]}, 1.2, 0.75, 10.0, 5,
            after={1: (1.0, 5)}, prune_bounds="stored",
        )


def test_unit_conjunctive_coverage_kills_uncovered_intervals():
    # q needs BOTH t1 and t2; t2 only covers docs 200..299, so every
    # interval outside that range is coverage-dead even though theta=0
    pdf = _mk_pdf([
        ("t1", 0, 99, 8, 1.0, 1.0),
        ("t1", 200, 299, 8, 1.0, 1.0),
        ("t2", 200, 299, 8, 1.0, 1.0),
    ])
    out = _interval_prune(
        pdf, {1: [("t1", 1.0), ("t2", 1.0)]}, k1=1.2, b=0.75,
        avgdl=10.0, k=3, mode="stored", and_need={1: 2},
    )
    assert out is not None
    keep_rows, bounds, live_of = out
    assert keep_rows.tolist() == [False, True, True]
    live = live_of[1]
    assert live[np.searchsorted(bounds, 250, side="right") - 1]
    assert not live[np.searchsorted(bounds, 50, side="right") - 1]


def test_unit_conjunctive_unreachable_need_all_dead():
    # need exceeds the group-present distinct terms -> everything dead,
    # the term's blocks drop entirely
    pdf = _mk_pdf([("t1", 0, 99, 8, 1.0, 1.0)])
    out = _interval_prune(
        pdf, {1: [("t1", 1.0), ("t2", 1.0)]}, k1=1.2, b=0.75,
        avgdl=10.0, k=3, mode="stored", and_need={1: 2},
    )
    assert out is not None
    keep_rows, _bounds, live_of = out
    assert not keep_rows.any()
    assert not live_of[1].any()


def test_blockmax_masked_bit_exact_skewed(skewed, spark, tmp_path):
    """Tombstones and where= filters now COMPOSE with the interval
    pruner (r06-late): the seed decode applies the kernel's exact masks
    so theta never counts a dead or non-qualifying doc. Pinned by
    bit-identity to 'sharded' under a delete set that removes the
    TOP-SCORING hot docs — the shape where an unmasked seed theta
    would overstate and silently drop true results."""
    import shutil

    from sparkbm25.jobs import delete_docs

    d2 = str(tmp_path / "tomb_copy")
    shutil.copytree(skewed.index_dir, d2)
    # delete most of the hot stripe: survivors' scores sit far below
    # the dead docs' — exactly the unsound-theta trap
    delete_docs(spark, d2, list(range(1500, 1590)))
    tix = Index(spark, d2)
    for kw in ({}, {"mode": "and"}, {"min_match": 2}):
        sh = _rows(index_search(tix, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(tix, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def test_blockmax_filtered_bit_exact(spark, tmp_path_factory):
    """where= on blockmax rides the pruned dense kernel with the
    qualifying side masked into the seed theta — bit-identical to
    sharded even when every hot doc is filtered OUT (the qual analog
    of the tombstone trap above)."""
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
    """mode='and' and min_match now ride the interval-pruned dense
    kernel on strategy='blockmax' — bit-identical to 'sharded' (the
    r06-late replacement for the candidate-driven WAND conjunction,
    which lost to dense scoring at every benchable scale)."""
    for kw in (
        {"mode": "and"},
        {"min_match": 2},
        {"mode": "and", "k1": 0.9, "b": 0.4},
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw


def _skewed_pdf(n_docs=1600, hot_from=1500, hot_tf=40):
    """Prune-friendly corpus: 'alpha' appears once in every doc but
    hot_tf times in the docs at the top of the id range, so alpha's
    high blocks carry a min bound far above the low blocks' max."""
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
        {"k1": 0.9, "b": 0.4},  # derived bounds
    ):
        sh = _rows(index_search(skewed, QS, k=10, strategy="sharded", **kw))
        bm = _rows(index_search(skewed, QS, k=10, strategy="blockmax", **kw))
        assert bm == sh and sh, kw
        _assert_oracle(bm, skewed_oracle.search_all(QS, k=10, **kw))


def test_prune_fires_on_real_blocks(skewed, spark):
    """The skew must make the prune actually drop blocks — asserted on
    the index's own block metadata, so a regression that silently
    stops pruning (returns None forever) fails here, not in a bench."""
    files = glob.glob(f"{skewed.index_dir}/postings/**/*.parquet",
                      recursive=True)
    assert files
    pdf = (
        spark.read.parquet(f"{skewed.index_dir}/postings")
        .filter("term = 'alpha'")
        .select("term", "first_doc", "last_doc", "n_docs",
                "max_tf_norm", "min_tf_norm")
        .toPandas()
    )
    assert len(pdf) > 4  # multiple blocks so there is something to skip
    out = _interval_prune(
        pdf, {1: [("alpha", 1.0)]}, k1=skewed.k1, b=skewed.b,
        avgdl=skewed.avgdl, k=10, mode="stored",
    )
    assert out is not None
    keep_rows, _bounds, live_of = out
    assert (~keep_rows).sum() > 0, "skew should exclude some blocks"
    assert 1 in live_of


def test_blockmax_cotomb_side_direct_oracle(skewed, skewed_oracle, spark,
                                           monkeypatch):
    """Distributed tombstones with no `where=` ride the side-direct plan:
    the side is the tombstone rows plus one kind=2 anchor row per shard.
    Forced here with TOMBSTONE_BROADCAST_MAX=1, deleting the hot docs —
    all in ONE shard — that an unmasked seed theta would score. Every
    strategy must stay rank-identical to the oracle over the live docs;
    hits from the tombstone-free shard pin the anchor rows (without
    them that shard is absent from the side and its docs are lost).
    `exclude=` on blockmax reaches the WAND kernel."""
    import shutil

    import sparkbm25.jobs as J
    from sparkbm25.jobs import delete_docs

    d2 = skewed.index_dir + "_cotomb"
    shutil.rmtree(d2, ignore_errors=True)
    shutil.copytree(skewed.index_dir, d2)
    # delete the hot tail (the theta-certifying docs)
    victims = [i << 20 for i in range(1500, 1600)]
    delete_docs(spark, d2, victims)
    monkeypatch.setattr(J, "TOMBSTONE_BROADCAST_MAX", 1)
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
