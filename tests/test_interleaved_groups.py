"""Regression: per-term postings are NOT globally doc-sorted once lineage
groups' doc ranges interleave (streamed appends into an existing shard's
id range). The hybrid sparse scoring path and the phrase kernel's
position intersection both assumed sortedness — these tests pin the fix
(np.sort of the candidate set; ragged per-term re-sort in the phrase
kernel) on an index built exactly that way: base = even ids, streamed
append = odd ids in the same range.

Reference: the pure-Python OracleIndex over both batches, emulating
the index's FROZEN streaming stats (the base build's avgdl, the summed
n_docs), which a corpus-level oracle would not share by itself.
"""

import numpy as np
import pandas as pd
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.index_query import index_phrase_search, index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex
from sparkbm25.streaming import append_batch, finalize_stream

N_DOCS = 600  # per parity; universe/shard ~600 -> heavy_at ~75, rare df ~15


def _mk_docs(ids, rng):
    rows = []
    for i in ids:
        # 400-word vocab over 1200 docs x 10 tokens -> typical df ~30,
        # far below the heavy threshold: these are LIGHT terms
        words = [f"w{int(rng.integers(0, 400)):03d}" for _ in range(10)]
        if i % 25 == 0:
            words[3:5] = ["alpha", "beta"]  # planted phrase, both parities
            # (25 is odd: multiples hit both even and odd ids)
        if i % 13 == 0:
            words[7] = "alpha"  # alpha WITHOUT beta: the two phrase
            # terms' doc sets differ, so unsorted postings cannot be
            # masked by positional coincidence
        if i % 80 == 0:
            words[0] = "rareterm"
        rows.append((i, " ".join(words)))
    return rows


@pytest.fixture(scope="module")
def interleaved(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    base_rows = _mk_docs(range(0, 2 * N_DOCS, 2), rng)   # even ids
    app_rows = _mk_docs(range(1, 2 * N_DOCS, 2), rng)    # odd ids
    d = str(tmp_path_factory.mktemp("ileave") / "ix")
    base = spark.createDataFrame(
        pd.DataFrame(base_rows, columns=["doc_id", "text"])
    )
    build_index(
        base, d,
        BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, doc_id_scheme="provided",
                    store_positions=True),
        "ileave",
    )
    app = spark.createDataFrame(
        pd.DataFrame(app_rows, columns=["doc_id", "text"])
    )
    append_batch(app, d, epoch_id=0)
    finalize_stream(spark, d)  # lifts n_docs/df over both batches
    return Index(spark, d), base_rows + app_rows


def _got(df):
    return sorted((r.query_id, r.rank, r.doc_id, r.score)
                  for r in df.collect())


def test_light_term_scoring_matches_exhaustive(interleaved):
    """Light-only queries take the sparse candidate path; per-term
    positions within a shard interleave across the two groups. Both
    strategies must stay rank-identical to the oracle under the frozen
    stats."""
    ix, rows = interleaved
    qs = [(0, "rareterm"), (1, "w001 w399"), (2, "rareterm w002"),
          (3, "w123"), (4, "w000 w000 w377")]
    ora = OracleIndex.build(rows)
    assert ora.n_docs == ix.n_docs
    ora.avgdl = ix.avgdl  # frozen base avgdl (append never re-averages)
    ref = sorted(ora.search_all(qs, k=8))
    assert ref  # sanity: the reference found something
    for strategy in ("sharded", "blockmax"):
        got = _got(index_search(ix, qs, k=8, strategy=strategy))
        assert [g[:3] for g in got] == [w[:3] for w in ref], strategy
        for g, w in zip(got, ref):
            assert g[3] == pytest.approx(w[3], rel=1e-9), strategy


def test_phrase_search_interleaved_groups(interleaved):
    """Phrase matching must survive unsorted per-term postings: every
    planted 'alpha beta' doc (i % 25 == 0, both parities) is found."""
    ix, rows = interleaved
    got = index_phrase_search(ix, [(0, "alpha beta")], k=1000)
    got_ids = sorted(r.doc_id for r in got.collect())
    exp_ids = sorted(i for i, _t in rows if i % 25 == 0)
    assert got_ids == exp_ids
    none = index_phrase_search(ix, [(1, "beta alpha")], k=1000)
    assert none.count() == 0
