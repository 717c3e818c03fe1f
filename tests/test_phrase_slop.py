"""Proximity phrase search (slop): ordered token chains where each
consecutive pair may be separated by up to ``slop`` intervening tokens
(gap in [1, slop+1]); ptf counts the DISTINCT first-term positions that
begin at least one valid chain. slop=0 is exact adjacency (the existing
phrase semantics), so the two paths must agree bit-for-bit there.

Reference analog: SURVEY §2.5 T1 widened to the Lucene SloppyPhraseQuery
surface a fulltext-tier user expects (with the simpler, SQL-expressible
per-gap bound instead of Lucene's total-edit-distance slop).
"""

import pytest

from sparkbm25.analysis import tokenize_py
from sparkbm25.bm25 import idf as idf_py
from sparkbm25.bm25 import tf_norm
from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_transcripts_pdf
from sparkbm25.index_query import index_phrase_search
from sparkbm25.jobs import Index, build_index

K = 10
PARAMS = BuildParams(num_shards=6, salt_factor=2, num_term_buckets=8,
                     lineage_groups=2, doc_id_scheme="conv_seq",
                     store_positions=True)


def _slop_ptf(ts: list[str], terms: list[str], slop: int) -> int:
    """Distinct first-term positions beginning >= 1 valid chain; chains
    step forward by 1..slop+1 positions per consecutive term pair."""
    pos = [{i for i, t in enumerate(ts) if t == q} for q in terms]
    live = pos[-1]
    for j in range(len(terms) - 2, -1, -1):
        live = {
            p for p in pos[j]
            if any(p + d in live for d in range(1, slop + 2))
        }
        if not live:
            return 0
    return len(live)


def _slop_oracle(docs, phrases, k=10, slop=0, allowed=None,
                 n_docs=None, avgdl=None):
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
            c = _slop_ptf(ts, terms, slop)
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
def corpus(spark):
    pdf = make_transcripts_pdf(60)
    df = add_doc_id(spark.createDataFrame(pdf), scheme="conv_seq")
    df = df.select("doc_id", "text")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ixslop"))
    build_index(corpus, d, PARAMS, source_fingerprint="slop60")
    return d


@pytest.fixture(scope="module")
def docs(corpus):
    return [(r.doc_id, r.text) for r in corpus.collect()]


def _phrases_with_gaps(docs) -> list[tuple[int, str]]:
    """Phrases built by SKIPPING tokens of real docs, so slop>0 matches
    strictly more than slop=0 (plus edge cases)."""
    t0 = tokenize_py(docs[0][1])
    t9 = tokenize_py(docs[9][1])
    return [
        (0, f"{t0[0]} {t0[2]}"),             # gap of 1: needs slop >= 1
        (1, f"{t0[0]} {t0[3]}"),             # gap of 2: needs slop >= 2
        (2, f"{t9[0]} {t9[2]} {t9[4]}"),     # two gaps of 1
        (3, " ".join(t0[:2])),               # adjacent: matches at any slop
        (4, f"{t0[0]} zzneverzz"),           # absent term
        (5, t9[0]),                          # single term: slop-independent
        (6, f"{t0[1]} {t0[0]}"),             # reversed order (may not match)
    ]


def _cmp(got_rows, want, rel=1e-9):
    got = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in got_rows)
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=rel)


@pytest.mark.parametrize("slop", [1, 2, 4])
def test_slop_rank_identical(spark, built, docs, slop):
    ix = Index(spark, built)
    phrases = _phrases_with_gaps(docs)
    want = _slop_oracle(docs, phrases, k=K, slop=slop)
    assert want
    got = index_phrase_search(ix, phrases, k=K, slop=slop).collect()
    _cmp(got, want)


def test_slop_zero_is_exact_phrase(spark, built, docs):
    """slop=0 must be BIT-identical to the default exact-adjacency path
    (same kernel outputs, same scoring)."""
    ix = Index(spark, built)
    t0 = tokenize_py(docs[0][1])
    phrases = [(0, " ".join(t0[:2])), (1, " ".join(t0[3:6])),
               (2, f"{t0[0]} {t0[0]}")]
    base = index_phrase_search(ix, phrases, k=K).collect()
    got = index_phrase_search(ix, phrases, k=K, slop=0).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_slop_widens_matches(spark, built, docs):
    """A gapped phrase must match strictly more docs at slop=2 than at
    slop=0 (fixture-guaranteed: the phrase skips a token of doc 0)."""
    ix = Index(spark, built)
    t0 = tokenize_py(docs[0][1])
    phrases = [(0, f"{t0[0]} {t0[2]}")]
    tight = index_phrase_search(ix, phrases, k=1000, slop=0).collect()
    wide = index_phrase_search(ix, phrases, k=1000, slop=1).collect()
    assert docs[0][0] in {r.doc_id for r in wide}
    assert len(wide) > len(tight)


def test_slop_repeated_term_phrase(spark, built, docs):
    """'w w' with slop: chains must advance (gap >= 1), so a lone
    occurrence never self-matches."""
    ix = Index(spark, built)
    t0 = tokenize_py(docs[0][1])
    phrases = [(0, f"{t0[0]} {t0[0]}")]
    for slop in (1, 3):
        want = _slop_oracle(docs, phrases, k=K, slop=slop)
        got = index_phrase_search(ix, phrases, k=K, slop=slop).collect()
        _cmp(got, want)


def test_slop_with_tombstones(spark, corpus, docs, tmp_path):
    """Slop composes with deletes: frozen n/avgdl, live-only matches
    (df recomputed over live matches, same as exact phrase)."""
    from sparkbm25.jobs import delete_docs

    d = str(tmp_path / "ixslopdel")
    build_index(corpus, d, PARAMS, source_fingerprint="slopdel")
    phrases = _phrases_with_gaps(docs)[:3]
    base = index_phrase_search(Index(spark, d), phrases, k=K,
                               slop=2).collect()
    assert base
    victim = int(base[0].doc_id)
    delete_docs(spark, d, [victim])
    ix = Index(spark, d)
    want = _slop_oracle(
        docs, phrases, k=K, slop=2,
        allowed={i for i, _ in docs} - {victim},
        n_docs=ix.n_docs, avgdl=ix.avgdl,
    )
    got = index_phrase_search(ix, phrases, k=K, slop=2).collect()
    _cmp(got, want)
    assert victim not in {r.doc_id for r in got}


def test_slop_validation(spark, built):
    ix = Index(spark, built)
    with pytest.raises(ValueError, match="slop"):
        index_phrase_search(ix, [(0, "a b")], slop=-1)


def test_slop_sql_oracle_parity(spark, built, docs):
    """The generated DuckDB oracle (unrolled gap combinations) agrees with
    the engine on the same corpus — the driver-gate contract, locally."""
    import duckdb
    import pandas as pd

    phrases = _phrases_with_gaps(docs)
    from sparkbm25.sqlgen import phrase_topk_sql

    sql = phrase_topk_sql(phrases, k=K, slop=2, table="documents")
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text"]),
    )
    want = [
        (int(q), int(r), int(d), float(s))
        for q, r, d, s in con.execute(sql).fetchall()
    ]
    from pyspark.sql import functions as F

    ix = Index(spark, built)
    got = (
        index_phrase_search(ix, phrases, k=K, slop=2)
        .withColumn("score", F.round("score", 6))
        .collect()
    )
    _cmp(got, want, rel=1e-6)


def test_slop_oracle_explosion_guard():
    """(slop+1)^(n-1) unrolled arms are bounded: the generator refuses
    pathological combinations instead of emitting megabytes of SQL."""
    from sparkbm25.sqlgen import phrase_topk_sql

    with pytest.raises(ValueError, match="slop"):
        phrase_topk_sql([(0, "a b c d e f g h i j")], slop=9)


# --- round 6: phrase search on the direct (no-exchange) plan ----------------

@pytest.mark.parametrize("slop", [0, 2])
def test_phrase_direct_route_bit_identical(spark, built, docs, slop):
    """The direct plan (per-shard pyarrow reads — the positional stream
    never crosses an exchange) must match the phrase oracle, with no
    shard-grouped blocks exchange in its physical plan."""
    ix = Index(spark, built)
    phrases = _phrases_with_gaps(docs)
    df = index_phrase_search(ix, phrases, k=K, slop=slop)
    _cmp(df.collect(), _slop_oracle(docs, phrases, k=K, slop=slop))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_phrase_direct_refused_on_layout1(spark, corpus, docs, tmp_path):
    """A layout-1 index has no per-shard posting files for the direct
    plan, and no other phrase plan exists: phrase search refuses it until
    compact_index rewrites the postings as layout 3."""
    from legacy_layout import rewrite_as_legacy

    from sparkbm25.streaming import compact_index

    d = str(tmp_path / "ixl1")
    build_index(corpus, d, PARAMS, source_fingerprint="phl1")
    rewrite_as_legacy(d, 1)
    ix = Index(spark, d)
    assert ix.posting_layout == 1
    phrases = _phrases_with_gaps(docs)
    with pytest.raises(ValueError, match="layout"):
        index_phrase_search(ix, phrases, k=K, slop=1)
    compact_index(spark, d)
    ix = Index(spark, d)
    assert ix.posting_layout == 3
    _cmp(index_phrase_search(ix, phrases, k=K, slop=1).collect(),
         _slop_oracle(docs, phrases, k=K, slop=1))
