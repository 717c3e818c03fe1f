"""Physical-plan quality gates — the Catalyst-side scale contract.

SURVEY.md §4: predicate pushdown / column pruning / broadcast joins are
free IF the plans are written declaratively — these tests pin that they
actually happen (a regression here is a 100x cost at 100 TB even though
results stay correct)."""

import pytest

from sparkbm25.build import BuildParams
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_transcripts_pdf
from sparkbm25.jobs import Index, build_index


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts_pdf(30)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    d = str(tmp_path_factory.mktemp("plans_ix"))
    build_index(corpus, d, BuildParams(num_shards=4, salt_factor=2,
                                       num_term_buckets=8, lineage_groups=1),
                "plans")
    return Index(spark, d)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_postings_scan_pushes_term_filter(built):
    from pyspark.sql import functions as F

    df = built.postings().filter(F.col("term") == "w0001").filter(
        F.col("term_bucket").isin([1, 2])
    )
    plan = _plan(df)
    # term equality must reach the parquet scan as a pushed filter
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "term" in pushed, pushed


def test_postings_metadata_read_prunes_binaries(built):
    # term_stats-style aggregation over block metadata must NOT read the
    # vbyte binary columns (ReadSchema excludes them)
    from sparkbm25.build import term_stats_from_blocks

    df = term_stats_from_blocks(built.postings())
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "docs_vbyte" not in read_schema, read_schema
    assert "sum_tf" in read_schema


def test_score_all_broadcasts_query_side(spark):
    from sparkbm25.query import score_all

    pdf = make_transcripts_pdf(10)
    corpus = add_doc_id(spark.createDataFrame(pdf), "conv_seq").select(
        "doc_id", "text"
    )
    df = score_all(corpus, [(0, "w0001 w0002")], materialize=False)
    # every join of the tf stream with the (tiny) query side must be
    # broadcast — no shuffle of the corpus-derived stream for joins
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sharded_search_reads_only_query_buckets(built):
    """Partition pruning: the sharded search plan's parquet scan must carry
    a term_bucket partition filter."""
    from sparkbm25.index_query import index_search

    df = index_search(built, [(0, "w0001")], k=5)
    # executed already (localCheckpoint-free path returns lazy df) — check
    # the analyzed plan of a fresh equivalent scan instead:
    from pyspark.sql import functions as F
    from sparkbm25.xxhash64 import spark_pmod_bucket

    b = spark_pmod_bucket("w0001", built.num_term_buckets)
    scan = built.postings().filter(F.col("term_bucket").isin([b])).filter(
        F.col("term") == "w0001"
    )
    plan = _plan(scan)
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "term_bucket" in pf, pf


def test_textstats_plans_are_map_only(spark):
    """token_counts/lang_id/fingerprint must contain no Exchange (shuffle)."""
    from sparkbm25.pipeline import textstats as T

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, text string"
    )
    for fn in (T.token_counts, T.quality_score, T.lang_id, T.fingerprint):
        plan = _plan(fn(docs))
        assert "Exchange" not in plan, f"{fn.__name__} shuffles:\n{plan}"


def test_doc_stats_scan_prunes_to_two_columns(built):
    ds = built.doc_stats()
    plan = _plan(ds.select("doc_id", "doc_len"))
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in read_schema


def test_sharded_search_warm_index_plans_without_jobs(built):
    """Once the Index handle is warm, building a search plan must launch
    ZERO Spark jobs: term stats come from the driver-side vocabulary cache
    (Index.term_stats_lookup preload), not a per-query collect — one fewer
    job per warm query (VERDICT r01 #4)."""
    from sparkbm25.index_query import index_search

    # warm: first lookup preloads the (small) vocabulary onto the handle
    index_search(built, [(0, "w0001")], k=5).count()
    st = built.spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    df = index_search(built, [(1, "w0002 w0003")], k=5, strategy="sharded")
    after = len(st.getJobIdsForGroup(None) or [])
    assert after == before, "warm plan construction launched a Spark job"
    assert df.count() > 0


def test_cosine_pairs_plan_single_shuffle(spark):
    """The exact tiled pair join must be ONE shuffle (the tile groupBy):
    tiles broadcast onto both sides, no cartesian/BNLJ of corpus-sized
    inputs anywhere."""
    from sparkbm25.pipeline.similarity import cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(cosine_pairs(emb, 0.4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_blockmax_exclude_plan_one_kernel_two_exchanges(built):
    """blockmax + exclude (the dense kernel) on the side-direct
    plan keeps the one-kernel shape: exactly one shard-grouped kernel
    (FlatMapGroupsInPandas) and two exchanges total (side groupBy +
    final skinny top-k window) — the legacy DataFrame 3-phase plan this
    replaced ran ~8 jobs. (The direct plan's 1-exchange shape is pinned
    in test_direct_route.py.)"""
    from pyspark.sql import functions as F

    from sparkbm25.index_query import index_search

    df = index_search(built, [(0, "w0001 w0002")], k=5, strategy="blockmax",
                      exclude={0: "w0003"},
                      where_expr=F.col("doc_len") >= 1)
    plan = _plan(df)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("FlatMapCoGroupsInPandas") == 0, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert df.count() > 0


def test_tombstoned_search_plan_direct(built, spark, tmp_path, monkeypatch):
    """A tombstoned search with no `where=` runs the direct plan: the
    kernel masks dead postings with the tombstone pair in its closure,
    so no side frame is grouped by shard — in the driver, and on the
    Spark route past the driver row budget (the mapInArrow scan)."""
    import shutil

    import sparkbm25.index_query as iq
    import sparkbm25.jobs as J

    d = str(tmp_path / "tomb_plan")
    shutil.copytree(built.index_dir, d)
    victim = built.live_doc_stats().select("doc_id").first().doc_id
    J.delete_docs(spark, d, [victim])
    ix = Index(spark, d)
    for spark_route in (False, True):
        if spark_route:
            monkeypatch.setattr(iq, "_serve_in_driver", lambda *a: False)
            monkeypatch.setattr(iq, "LOCAL_SEARCH_MAX_POSTINGS", 0)
        for strategy in ("sharded", "blockmax"):
            df = iq.index_search(ix, [(0, "w0001 w0002")], k=5,
                                 strategy=strategy)
            plan = _plan(df)
            assert "FlatMapGroupsInPandas" not in plan, plan
            assert "FlatMapCoGroupsInPandas" not in plan, plan
            assert ("MapInArrow" in plan) == spark_route, plan
            assert df.count() > 0
            assert victim not in {r.doc_id for r in df.collect()}


def test_filtered_search_plan_cogroup_no_broadcast(spark, tmp_path):
    """`where=` filtered search must GROUP the qualifying doc ids by the
    doc-range shard key (one shard-grouped kernel reading its blocks
    in-task, two exchanges total: the side groupBy, then the skinny top-k
    window) — never a driver collect, broadcast of the filter set,
    cogroup or cartesian: the qualifying set can be corpus-sized at
    10^12 turns."""
    from sparkbm25.corpus import add_doc_id
    from sparkbm25.fixtures import make_transcripts_pdf
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(15)), "conv_seq"
    ).select("doc_id", "text", "role")
    d = str(tmp_path / "fplan_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                    lineage_groups=1, doc_id_scheme="conv_seq",
                    attr_cols=("role",)),
        "fplan",
    )
    ix = Index(spark, d)
    # SIDE-DIRECT: only the qualifying ids are
    # exchanged (one hashpartitioning for the side's applyInPandas + the
    # skinny top-k window); the blocks are pyarrow-read in-task, so no
    # cogroup and no blocks exchange appear in the plan at all
    df = index_search(ix, [(0, "w0001 w0002")], k=5,
                      where={"role": "user"})
    plan = _plan(df)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("FlatMapCoGroupsInPandas") == 0, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert df.count() > 0


def test_curate_plan_no_cartesian_single_corpus_pass_per_policy(spark):
    """The curation decision table must stay join-on-doc_id shaped: no
    CartesianProduct/BroadcastNestedLoopJoin anywhere (the only self-join
    in the pipeline is the banded LSH equi-join), and no per-row Python
    UDFs (BatchEvalPython) — quality/lang/dedup are Catalyst or Arrow."""
    from sparkbm25.pipeline.curate import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # curate() drives eager LSH/CC stages; inspect the final assembled plan
    out = curate(docs, 0.5, 0.75, ("en",), n_bands=32)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_compact_refuses_while_build_lock_held(spark, tmp_path):
    """Compaction takes the build lock: a live concurrent builder must make
    it raise ConcurrentBuildError untouched, not corrupt the artifact."""
    import json
    import os

    from sparkbm25.jobs import LOCKFILE, ConcurrentBuildError, build_index
    from sparkbm25.streaming import compact_index

    corpus = add_doc_id(
        spark.createDataFrame(make_transcripts_pdf(10)), "conv_seq"
    ).select("doc_id", "text")
    d = str(tmp_path / "lockix")
    build_index(corpus, d, BuildParams(num_shards=2, salt_factor=2,
                                       num_term_buckets=2, lineage_groups=1),
                "lock-compact")
    with open(os.path.join(d, LOCKFILE), "w") as f:
        json.dump({"pid": os.getpid(), "job_id": "livebuilder"}, f)
    try:
        with pytest.raises(ConcurrentBuildError):
            compact_index(spark, d)
    finally:
        os.unlink(os.path.join(d, LOCKFILE))
    # artifact untouched and still serves
    compact_index(spark, d)  # now succeeds
