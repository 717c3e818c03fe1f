"""Seeded randomized end-to-end fuzz: nasty corpora through the FULL
engine (build → compressed index → all three search strategies) must stay
rank-identical to the oracle. Catches tokenizer/codec/scoring edge cases
the deterministic fixtures don't reach."""

import random
import string

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index
from sparkbm25.oracle import OracleIndex
from sparkbm25.query import score_all_topk

NASTY = [
    "", " ", "\t\n", "ALLCAPS", "MiXeD", "x" * 500, "7", "a0b1c2",
    "naïve café", "日本語", "emoji 🙂 text", "under_score", "hy-phen",
    "dots...dots", "a'postrophe", '"quoted"', "tab\tsep", "0", "00", "z",
]


def _random_corpus(rng: random.Random, n_docs: int):
    vocab = [
        "".join(rng.choices(string.ascii_lowercase + string.digits,
                            k=rng.randint(1, 8)))
        for _ in range(40)
    ]
    docs = []
    for i in range(n_docs):
        kind = rng.random()
        if kind < 0.1:
            text = rng.choice(NASTY)
        elif kind < 0.2:
            # heavy repetition (tf saturation) + nasty suffix
            text = (rng.choice(vocab) + " ") * rng.randint(20, 80) + rng.choice(NASTY)
        else:
            text = " ".join(rng.choices(vocab, k=rng.randint(1, 60)))
        docs.append((i * 7 + 3, text))  # non-dense, non-zero-based ids
    queries = []
    for qid in range(8):
        parts = rng.choices(vocab + ["zzznope", "", "ALLCAPS"],
                            k=rng.randint(1, 4))
        queries.append((qid, " ".join(parts)))
    return docs, queries


@pytest.mark.parametrize("seed", [7, 23, 99, 1234, 4242])
def test_fuzz_full_engine_rank_identity(spark, tmp_path, seed):
    rng = random.Random(seed)
    docs, queries = _random_corpus(rng, n_docs=120)
    # ensure at least one fully-empty-token doc survives tokenization rules
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d = str(tmp_path / f"fuzz_{seed}")
    params = BuildParams(num_shards=3, salt_factor=2, num_term_buckets=4,
                         lineage_groups=2, block_size=16)
    build_index(df, d, params, f"fuzz{seed}")
    ix = Index(spark, d)

    oracle = OracleIndex.build(docs)
    want = sorted(
        (q, r, did, round(s, 9)) for q, r, did, s in oracle.search_all(queries, k=7)
    )

    for strategy in ("sharded", "blockmax"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in index_search(ix, queries, k=7, strategy=strategy).collect()
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], strategy
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], rel=1e-9), strategy

    got_sa = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in score_all_topk(df, queries, k=7).collect()
    )
    assert [g[:3] for g in got_sa] == [w[:3] for w in want]


def test_exact_ties_and_duplicate_query_terms(spark, tmp_path):
    """Tie-dense corpus (tiny vocab, many identical score sums) + queries
    with duplicated terms: every strategy must agree with the oracle on
    rank AND scores — this requires accumulating per query-term OCCURRENCE
    in query order (the seed-23 regression: two different texts with
    exactly equal BM25 doubles rank-flipped on a 1-ulp summation-order
    difference)."""
    rng = random.Random(5150)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [(i * 3 + 1, " ".join(rng.choices(vocab, k=rng.randint(1, 6))))
            for i in range(300)]
    queries = [(0, "aa"), (1, "aa aa bb"), (2, "cc cc cc dd"),
               (3, "bb dd bb"), (4, "aa bb cc dd aa")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d = str(tmp_path / "ties_ix")
    build_index(df, d, BuildParams(num_shards=4, salt_factor=2,
                                   num_term_buckets=2, lineage_groups=1,
                                   block_size=16), "ties")
    ix = Index(spark, d)
    oracle = OracleIndex.build(docs)
    want = sorted(
        (q, r, did, s) for q, r, did, s in oracle.search_all(queries, k=12)
    )
    for strategy in ("sharded", "blockmax"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=12, strategy=strategy).collect()
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], strategy
        # BIT-exact scores, not approx: the engines share the accumulation
        # order, so even tied doubles must match exactly
        assert [g[3] for g in got] == [w[3] for w in want], strategy

    # the declarative path carries the same guarantee: score_all folds
    # per-occurrence contributions in query order (canonical_score_sum),
    # so its tied doubles are bit-identical to the oracle's too
    got_sa = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in score_all_topk(df, queries, k=12).collect()
    )
    assert [g[:3] for g in got_sa] == [w[:3] for w in want]
    assert [g[3] for g in got_sa] == [w[3] for w in want]


@pytest.mark.parametrize("seed", [5, 81, 777])
def test_fuzz_compaction_invariance(spark, tmp_path, seed):
    """Seeded fuzz of the segment-merge path: a nasty corpus split into a
    base build + a RANDOM number of randomly-sized streamed epochs, then
    compacted, must return bit-identical top-k (ids AND scores) to the
    pre-compaction index under every strategy — compaction may only change
    physical layout, never a posting or a score."""
    from sparkbm25.streaming import append_batch, compact_index, finalize_stream

    rng = random.Random(seed)
    docs, queries = _random_corpus(rng, n_docs=100)
    base_n = rng.randint(30, 70)
    base, rest = docs[:base_n], docs[base_n:]
    df_base = spark.createDataFrame(base, "doc_id long, text string")
    d = str(tmp_path / f"cfuzz_{seed}")
    params = BuildParams(num_shards=3, salt_factor=2, num_term_buckets=4,
                         lineage_groups=2, block_size=16)
    build_index(df_base, d, params, f"cfuzz{seed}")
    epoch = 0
    while rest:
        take = rng.randint(1, max(1, len(rest) // 2))
        batch, rest = rest[:take], rest[take:]
        append_batch(
            spark.createDataFrame(batch, "doc_id long, text string"), d, epoch
        )
        epoch += 1
    finalize_stream(spark, d)

    ix = Index(spark, d)
    before = {
        strategy: sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix, queries, k=9, strategy=strategy).collect()
        )
        for strategy in ("sharded", "blockmax")
    }
    m = compact_index(spark, d)
    assert list(m["completed_groups"]) == ["compacted"]
    assert m["metrics"]["compaction"]["groups_merged"] == 2 + epoch

    ix2 = Index(spark, d)
    for strategy, want in before.items():
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in index_search(ix2, queries, k=9, strategy=strategy).collect()
        )
        assert got == want, strategy


@pytest.mark.parametrize("seed", [11, 77, 555])
def test_fuzz_filtered_search_rank_identity(spark, tmp_path, seed):
    """Seeded fuzz of the `where=` path: random nasty corpora with random
    categorical attributes, random equality/membership predicates (often
    selecting few or zero docs), random strategy — always rank-identical
    to the oracle restricted to the same allowed set."""
    rng = random.Random(seed)
    docs, queries = _random_corpus(rng, n_docs=100)
    cats = ["a", "b", "c", "d", None]
    tagged = [(d_, t, rng.choice(cats)) for d_, t in docs]
    df = spark.createDataFrame(tagged, "doc_id long, text string, tag string")
    d = str(tmp_path / f"ffuzz_{seed}")
    params = BuildParams(num_shards=3, salt_factor=2, num_term_buckets=4,
                         lineage_groups=2, block_size=16,
                         attr_cols=("tag",))
    build_index(df, d, params, f"ffuzz{seed}")
    ix = Index(spark, d)
    ora = OracleIndex.build(docs)
    tag_of = {d_: tg for d_, _t, tg in tagged}

    for _trial in range(4):
        pick = rng.sample(["a", "b", "c", "d", "zz"], rng.randint(1, 3))
        pred = {"tag": pick if len(pick) > 1 else pick[0]}
        allowed = {d_ for d_, tg in tag_of.items() if tg in pick}
        strategy = rng.choice(["sharded", "blockmax"])
        got = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in index_search(ix, queries, k=6, where=pred,
                                  strategy=strategy).collect()
        )
        want = sorted(
            (q, rk, d_, round(s, 9))
            for q, rk, d_, s in ora.search_all(queries, k=6, allowed=allowed)
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], (pred, strategy)
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], rel=1e-9)
