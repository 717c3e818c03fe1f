"""End-to-end index build + indexed query: rank-identity, resume, idempotency.

Mirrors the reference's e2e layer (e2e/api/run_e2e.py:25-188 — synthetic
dataset → build → poll → assert artifact) plus the resumability layer the
reference lacks (SURVEY.md §5)."""

import glob
import json
import os

import numpy as np
import pytest

from sparkbm25.build import BuildParams
from sparkbm25.codecs import vbyte_decode, delta_decode
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import MICRO_DOCS, make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, InjectedFailure, build_index, read_manifest
from sparkbm25.oracle import OracleIndex
from sparkbm25.query import score_all_topk

K = 10
PARAMS = BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                     lineage_groups=3, doc_id_scheme="conv_seq")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ix"))
    manifest = build_index(corpus, d, PARAMS, source_fingerprint="fixture60")
    return d, manifest


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(
        [(r.doc_id, r.text) for r in corpus.collect()]
    )


def test_manifest_complete(built):
    d, m = built
    assert m["status"] == "COMPLETED"
    assert len(m["completed_groups"]) == PARAMS.lineage_groups
    assert m["build"]["n_docs"] > 0
    assert m["metrics"]["build_throughput_docs_per_sec"] > 0
    # per-stage metrics recorded (tasks.py:142-196 analog)
    assert any(k.startswith("group_") for k in m["metrics"])


def test_postings_layout_and_integrity(spark, built, oracle):
    d, _ = built
    blocks = spark.read.parquet(os.path.join(d, "postings"))
    assert {"group", "term_bucket"} <= set(blocks.columns)  # partition cols
    # decode every block of one mid-frequency term; postings must equal oracle
    term = "w0100"
    rows = blocks.filter(blocks.term == term).collect()
    got = {}
    for r in rows:
        ids = delta_decode(vbyte_decode(r.docs_vbyte, r.n_docs))
        tfs = vbyte_decode(r.tfs_vbyte, r.n_docs)
        assert r.first_doc == ids[0] and r.last_doc == ids[-1]
        assert int(tfs.sum()) == r.sum_tf
        for i, t in zip(ids.tolist(), tfs.tolist()):
            assert i not in got, "doc duplicated across blocks"
            got[i] = t
    assert got == oracle.postings[term]


def test_term_stats_match_oracle(spark, built, oracle):
    d, _ = built
    ts = {r.term: (r.df, r.cf) for r in
          spark.read.parquet(os.path.join(d, "term_stats")).collect()}
    assert len(ts) == len(oracle.postings)
    for term, plist in oracle.postings.items():
        assert ts[term] == (len(plist), sum(plist.values())), term


def _assert_rank_identical(got_rows, want, rel=1e-9):
    got = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got_rows)
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=rel)


def test_index_search_rank_identical_all_strategies(spark, built, oracle):
    d, _ = built
    ix = Index(spark, d)
    queries = make_queries(40)
    want = oracle.search_all(queries, k=K)
    for strategy in ("sharded", "blockmax"):
        got = index_search(ix, queries, k=K, strategy=strategy).collect()
        _assert_rank_identical(got, want)


def test_index_search_subsplit_hash64_ids(spark, tmp_path, oracle):
    """The hash64 doc-id scheme: ids span the FULL signed int64 range
    (negative ids, negative shard keys), so the build's shard directories
    and the side-direct plan's F.shiftright side key must agree on the
    arithmetic shift — a logical-shift mismatch would drop every
    negative-id doc from its shard. Direct and side-direct plans, both
    strategies, one kernel group per shard."""
    from pyspark.sql import functions as F

    pdf = make_transcripts_pdf(50)
    corpus = add_doc_id(spark.createDataFrame(pdf), scheme="hash64").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "ix_h64")
    build_index(
        corpus, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=1, doc_id_scheme="hash64"),
        source_fingerprint="h64",
    )
    ix = Index(spark, d)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])
    assert any(r.doc_id < 0 for r in corpus.select("doc_id").collect())
    queries = make_queries(20)
    want = ora.search_all(queries, k=K)
    for strategy in ("sharded", "blockmax"):
        for kw in ({}, {"where_expr": F.col("doc_len") >= 0}):
            _assert_rank_identical(
                index_search(ix, queries, k=K, strategy=strategy,
                             **kw).collect(),
                want,
            )


def test_index_search_k100(spark, built, oracle):
    """k=100 subset (FIXTURES.md §2)."""
    d, _ = built
    ix = Index(spark, d)
    queries = make_queries(8)
    _assert_rank_identical(
        index_search(ix, queries, k=100).collect(),
        oracle.search_all(queries, k=100),
    )


def test_index_search_matches_score_all(spark, built, corpus):
    d, _ = built
    ix = Index(spark, d)
    queries = [(0, "w0000 w0003"), (1, "w0500 w0500 w1200"), (2, "w4999")]
    a = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
               for r in index_search(ix, queries, k=K).collect())
    b = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
               for r in score_all_topk(corpus, queries, k=K).collect())
    assert [x[:3] for x in a] == [x[:3] for x in b]
    for x, y in zip(a, b):
        assert x[3] == pytest.approx(y[3], rel=1e-9)


def test_absent_and_empty_queries(spark, built):
    d, _ = built
    ix = Index(spark, d)
    assert index_search(ix, [(0, "zzabsent qqq"), (1, "")], k=5).count() == 0


def test_idempotent_short_circuit(corpus, built):
    d, m1 = built
    m2 = build_index(corpus, d, PARAMS, source_fingerprint="fixture60")
    assert m2["job_id"] == m1["job_id"]
    assert m2["status"] == "COMPLETED"


def test_param_mismatch_refused(corpus, built):
    d, _ = built
    other = BuildParams(num_shards=3, lineage_groups=2)
    with pytest.raises(ValueError, match="refusing to mix"):
        build_index(corpus, d, other, source_fingerprint="fixture60")


def test_kill_and_resume_identical_artifact(spark, corpus, oracle, tmp_path):
    """Kill after group 0; resume; artifact must equal a clean build's
    results and lineage must show all groups."""
    d = str(tmp_path / "ix_resume")
    with pytest.raises(InjectedFailure):
        build_index(corpus, d, PARAMS, source_fingerprint="fixture60",
                    fail_after_group=0)
    m = read_manifest(d)
    assert m["status"] == "FAILED"
    assert sorted(m["completed_groups"]) == ["0"]

    m2 = build_index(corpus, d, PARAMS, source_fingerprint="fixture60")
    assert m2["status"] == "COMPLETED"
    assert sorted(m2["completed_groups"]) == ["0", "1", "2"]

    ix = Index(spark, d)
    queries = make_queries(15)
    got = index_search(ix, queries, k=K).collect()
    _assert_rank_identical(got, oracle.search_all(queries, k=K))


def test_micro_corpus_via_index(spark, tmp_path):
    df = spark.createDataFrame(MICRO_DOCS, "doc_id long, text string")
    d = str(tmp_path / "micro")
    p = BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                    lineage_groups=1, block_size=8)
    build_index(df, d, p, source_fingerprint="micro")
    ix = Index(spark, d)
    oracle = OracleIndex.build(MICRO_DOCS)
    queries = [(0, "cat mat"), (1, "the dog"), (2, "cat cat")]
    _assert_rank_identical(
        index_search(ix, queries, k=5).collect(),
        oracle.search_all(queries, k=5),
    )


def test_index_search_filtered_rank_identical(spark, tmp_path):
    """`where=` filtered search: exact top-k of the qualifying docs with
    GLOBAL idf/avgdl, rank-identical to the oracle restricted to the same
    allowed set — with membership lists, and with an empty-qualifying-set
    filter returning no rows."""
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    # planted attribute: role alternates deterministically per turn
    corpus = df.select("doc_id", "text", "role")
    d = str(tmp_path / "ix_attr")
    build_index(
        corpus, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role",)),
        source_fingerprint="attr60",
    )
    ix = Index(spark, d)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])
    roles = {r.doc_id: r.role for r in corpus.collect()}
    queries = make_queries(25)

    for pred, allowed in [
        ({"role": "user"}, {d_ for d_, ro in roles.items() if ro == "user"}),
        ({"role": ["user", "assistant"]},
         {d_ for d_, ro in roles.items() if ro in ("user", "assistant")}),
    ]:
        want = ora.search_all(queries, k=K, allowed=allowed)
        got = index_search(ix, queries, k=K, where=pred).collect()
        _assert_rank_identical(got, want)
    # every returned doc actually satisfies the predicate
    got = index_search(ix, queries, k=K, where={"role": "user"}).collect()
    assert got and all(roles[r.doc_id] == "user" for r in got)
    # filter with no qualifying docs -> empty result, not an error
    assert index_search(ix, queries, k=K,
                        where={"role": "nobody"}).count() == 0
    # unknown attribute -> descriptive refusal
    with pytest.raises(ValueError, match="attr_cols"):
        index_search(ix, queries, k=K, where={"missing_col": "x"}).count()


def test_blockmax_unified_filters_tuning_tombstones(spark, tmp_path):
    """The PRUNED path survives production traffic (VERDICT r04 #2): the
    blockmax strategy must stay rank-identical to the oracle with (a)
    `where=` filters, (b) query-time k1/b overrides (bounds derived from
    raw block metadata), (c) tombstones, and (d) all three at once."""
    import numpy as np

    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    corpus = df.select("doc_id", "text", "role")
    d = str(tmp_path / "ix_bmuni")
    build_index(
        corpus, d,
        BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role",)),
        source_fingerprint="bmuni60",
    )
    rows = corpus.collect()
    ora = OracleIndex.build([(r.doc_id, r.text) for r in rows])
    roles = {r.doc_id: r.role for r in rows}
    users = {d_ for d_, ro in roles.items() if ro == "user"}
    queries = make_queries(25)
    ix = Index(spark, d)

    # (a) filtered blockmax == filtered oracle
    want = ora.search_all(queries, k=K, allowed=users)
    got = index_search(ix, queries, k=K, strategy="blockmax",
                       where={"role": "user"}).collect()
    _assert_rank_identical(got, want)
    # (b) tuned blockmax == tuned oracle (derived bounds)
    want = ora.search_all(queries, k=K, k1=0.9, b=0.4)
    got = index_search(ix, queries, k=K, strategy="blockmax",
                       k1=0.9, b=0.4).collect()
    _assert_rank_identical(got, want)

    # (c) tombstones: blockmax stays pruned AND correct
    from sparkbm25.jobs import delete_docs

    rng = np.random.default_rng(11)
    all_ids = sorted(roles)
    dead = {int(all_ids[i]) for i in rng.choice(len(all_ids), 20,
                                               replace=False)}
    delete_docs(spark, d, sorted(dead))
    ix = Index(spark, d)
    alive = set(all_ids) - dead
    want = ora.search_all(queries, k=K, allowed=alive)
    got = index_search(ix, queries, k=K, strategy="blockmax").collect()
    _assert_rank_identical(got, want)

    # (d) filters + tombstones + tuning, one call
    want = ora.search_all(queries, k=K, allowed=users - dead,
                          k1=0.9, b=0.4)
    got = index_search(ix, queries, k=K, strategy="blockmax",
                       where={"role": "user"}, k1=0.9, b=0.4).collect()
    _assert_rank_identical(got, want)


def test_index_search_where_expr_range(spark, tmp_path):
    """where_expr: arbitrary Column predicates (here a doc_len range +
    role equality composed) — rank-identical to the oracle restricted to
    the same computed allowed set."""
    from pyspark.sql import functions as F

    pdf = make_transcripts_pdf(40)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    corpus = df.select("doc_id", "text", "role")
    d = str(tmp_path / "ix_expr")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=1, doc_id_scheme="conv_seq",
                    attr_cols=("role",)),
        source_fingerprint="expr40",
    )
    ix = Index(spark, d)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in corpus.collect()])
    # allowed = user turns with doc_len in [5, 30] (doc_len is stored)
    meta = {r.doc_id: (r.role, ora.doc_len[r.doc_id])
            for r in corpus.collect()}
    allowed = {d_ for d_, (ro, dl) in meta.items()
               if ro == "user" and 5 <= dl <= 30}
    assert allowed and len(allowed) < len(meta)
    queries = make_queries(15)
    got = index_search(
        ix, queries, k=K,
        where_expr=(F.col("role") == "user")
        & F.col("doc_len").between(5, 30),
    ).collect()
    _assert_rank_identical(got, ora.search_all(queries, k=K, allowed=allowed))


def test_index_search_query_time_k1_b_override(spark, built, oracle):
    """k1/b overridden at query time (no rebuild) must be rank-identical
    to the oracle scored with the same parameters, for both strategies —
    blockmax derives sound pruning bounds for the effective (k1, b) from
    the raw per-block (max_tf, min_tf, min_dl, max_dl) metadata."""
    d, _ = built
    ix = Index(spark, d)
    queries = make_queries(20)
    for k1, b in [(0.9, 0.4), (2.0, 0.0), (1.2, 0.75)]:
        want = oracle.search_all(queries, k=K, k1=k1, b=b)
        for strategy in ("sharded", "blockmax"):
            got = index_search(ix, queries, k=K, strategy=strategy,
                               k1=k1, b=b).collect()
            _assert_rank_identical(got, want)
    # defaults unchanged: override=None equals the build parameters
    _assert_rank_identical(
        index_search(ix, queries, k=K).collect(),
        oracle.search_all(queries, k=K),
    )


def _phrase_oracle(docs, phrases, k, n_docs=None, avgdl=None, allowed=None):
    """Pure-Python phrase BM25 oracle: exact token-sequence counts, the
    phrase scored as one composite term (idf over matching-doc count)."""
    from sparkbm25.analysis import tokenize_py
    from sparkbm25.bm25 import idf as idf_py
    from sparkbm25.bm25 import tf_norm

    toks = {i: tokenize_py(t) for i, t in docs}
    n = n_docs if n_docs is not None else len(toks)
    av = (avgdl if avgdl is not None
          else sum(len(v) for v in toks.values()) / len(toks))
    out = []
    for qid, ph in phrases:
        terms = tokenize_py(ph)
        if not terms:
            continue
        matches = []
        for i, ts in toks.items():
            if allowed is not None and i not in allowed:
                continue
            c = sum(
                1 for s in range(len(ts) - len(terms) + 1)
                if ts[s:s + len(terms)] == terms
            )
            if c:
                matches.append((i, c, len(ts)))
        if not matches:
            continue
        w = idf_py(len(matches), n)
        ranked = sorted(
            ((i, w * tf_norm(c, dl, av)) for i, c, dl in matches),
            key=lambda kv: (-kv[1], kv[0]),
        )[:k]
        out += [(qid, r + 1, i, s) for r, (i, s) in enumerate(ranked)]
    return out


@pytest.fixture(scope="module")
def pos_built(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixpos"))
    params = BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                         lineage_groups=2, doc_id_scheme="conv_seq",
                         store_positions=True)
    build_index(corpus, d, params, source_fingerprint="pos60")
    return d


def test_positional_postings_roundtrip(spark, pos_built, corpus):
    """store_positions=True: every block's positional stream must decode to
    exactly the token positions of its term in each doc (per-posting delta
    restart, tf values per posting)."""
    from sparkbm25.analysis import tokenize_py
    from sparkbm25.codecs import segment_delta_restore

    from sparkbm25.analysis import tokenize_py

    texts = {r.doc_id: r.text for r in corpus.collect()}
    blocks = spark.read.parquet(os.path.join(pos_built, "postings"))
    some = tokenize_py(next(iter(texts.values())))
    probe_terms = {"w0001", "w0100", some[0], some[-1]}
    for term in sorted(probe_terms):
        rows = blocks.filter(blocks.term == term).collect()
        seen = 0
        for r in rows:
            tfs = vbyte_decode(r.tfs_vbyte, r.n_docs).astype(np.int64)
            ids = delta_decode(vbyte_decode(r.docs_vbyte, r.n_docs))
            gaps = vbyte_decode(r.pos_vbyte, int(tfs.sum()))
            starts = np.cumsum(tfs) - tfs
            pos = segment_delta_restore(gaps, starts, tfs)
            for i, doc in enumerate(ids.tolist()):
                want = [
                    p for p, t in enumerate(tokenize_py(texts[doc]))
                    if t == term
                ]
                got = pos[starts[i]:starts[i] + tfs[i]].tolist()
                assert got == want, (term, doc)
                seen += 1
        assert seen > 0, term


def test_phrase_search_rank_identical(spark, pos_built, corpus):
    """index_phrase_search == the pure-Python phrase oracle: multi-term,
    repeated-term, single-term, and absent phrases."""
    from sparkbm25.index_query import index_phrase_search

    docs = [(r.doc_id, r.text) for r in corpus.collect()]
    # phrases drawn from real doc token windows + synthetic edge cases
    from sparkbm25.analysis import tokenize_py

    t0 = tokenize_py(docs[0][1])
    t7 = tokenize_py(docs[7][1])
    phrases = [
        (0, " ".join(t0[:2])),
        (1, " ".join(t0[3:6])),
        (2, " ".join(t7[:4])),
        (3, t7[0]),                      # single term
        (4, f"{t0[0]} {t0[0]}"),         # repeated term
        (5, "w0001 zzneverzz"),          # absent
        (6, ""),                          # empty
    ]
    ix = Index(spark, pos_built)
    want = sorted(
        (q, rk, di, round(s, 9))
        for q, rk, di, s in _phrase_oracle(docs, phrases, k=K)
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in index_phrase_search(ix, phrases, k=K).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_phrase_search_deletes_and_compaction(spark, corpus, tmp_path):
    """Phrase search respects tombstones (df recomputed over LIVE matches,
    frozen n/avgdl) and positional streams survive compaction bit-intact."""
    from sparkbm25.analysis import tokenize_py
    from sparkbm25.index_query import index_phrase_search
    from sparkbm25.jobs import delete_docs
    from sparkbm25.streaming import compact_index

    d = str(tmp_path / "ixposdel")
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                         lineage_groups=2, doc_id_scheme="conv_seq",
                         store_positions=True)
    build_index(corpus, d, params, source_fingerprint="posdel")
    docs = [(r.doc_id, r.text) for r in corpus.collect()]
    phrase = " ".join(tokenize_py(docs[0][1])[:2])
    phrases = [(0, phrase)]
    ix = Index(spark, d)
    base = index_phrase_search(ix, phrases, k=K).collect()
    assert base, "phrase must match at least its source doc"
    victim = int(base[0].doc_id)
    delete_docs(spark, d, [victim])
    ix = Index(spark, d)
    want = sorted(
        (q, rk, di) for q, rk, di, _s in _phrase_oracle(
            docs, phrases, k=K, n_docs=ix.n_docs, avgdl=ix.avgdl,
            allowed={i for i, _ in docs} - {victim},
        )
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_phrase_search(ix, phrases, k=K).collect()
    )
    assert got == want and victim not in {g[2] for g in got}
    # compaction purges the victim and carries positions through the merge
    compact_index(spark, d)
    ix2 = Index(spark, d)
    want2 = sorted(
        (q, rk, di) for q, rk, di, _s in _phrase_oracle(
            [dd for dd in docs if dd[0] != victim], phrases, k=K,
        )
    )
    got2 = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_phrase_search(ix2, phrases, k=K).collect()
    )
    assert got2 == want2


def test_phrase_search_refused_without_positions(spark, built):
    from sparkbm25.index_query import index_phrase_search

    d, _ = built
    with pytest.raises(ValueError, match="store_positions"):
        index_phrase_search(Index(spark, d), [(0, "w0001 w0002")], k=5)


def test_index_search_k1_b_range_validated(spark, built):
    """Out-of-range shape parameters are rejected loudly: b > 1 can zero
    or negate the tf_norm denominator for short docs, silently breaking
    the kernels' strictly-positive-contribution assumption."""
    d, _ = built
    ix = Index(spark, d)
    queries = make_queries(2)
    with pytest.raises(ValueError, match="b must be"):
        index_search(ix, queries, k=K, b=1.5)
    with pytest.raises(ValueError, match="b must be"):
        index_search(ix, queries, k=K, b=-0.1)
    with pytest.raises(ValueError, match="k1 must be"):
        index_search(ix, queries, k=K, k1=-1.0)
    with pytest.raises(ValueError, match="k1 must be"):
        index_search(ix, queries, k=K, k1=float("nan"))
