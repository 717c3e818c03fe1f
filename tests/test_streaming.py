"""Structured Streaming segment-append: streamed index == batch index.

Setup: full corpus = A ∪ B. Reference index = one batch build over A∪B.
Streamed index = base build over A (with stats frozen over A∪B) + B arriving
as files through readStream/foreachBatch. Queries must be rank-identical."""

import os

import pytest

from sparkbm25.build import BuildParams, compute_corpus_stats
from sparkbm25.corpus import add_doc_id
from sparkbm25.fixtures import make_queries, make_transcripts_pdf
from sparkbm25.index_query import index_search
from sparkbm25.jobs import Index, build_index, read_manifest
from pyspark.sql import functions as F

from sparkbm25.streaming import stream_append

PARAMS = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                     lineage_groups=2)


@pytest.fixture(scope="module")
def corpora(spark):
    from pyspark.sql import functions as F

    pdf = make_transcripts_pdf(60)
    base = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")  # input_hint: int32
    )
    full = add_doc_id(base, "conv_seq")
    a = full.filter("conv_id < 'conv-00000040'")
    b = full.filter("conv_id >= 'conv-00000040'")
    full.cache().count()
    return full, a, b


def test_stream_append_rank_identical(spark, corpora, tmp_path):
    full, a, b = corpora
    full_stats = compute_corpus_stats(full.select("doc_id", "text"), PARAMS)

    ref_dir = str(tmp_path / "ref")
    build_index(full.select("doc_id", "text"), ref_dir, PARAMS, "full",
                stats_override=full_stats)

    base_dir = str(tmp_path / "base")
    build_index(a.select("doc_id", "text"), base_dir, PARAMS, "partA",
                stats_override=full_stats)

    # drop part B as two parquet files into the stream source dir
    src = str(tmp_path / "incoming")
    b1 = b.filter("conv_id < 'conv-00000050'")
    b2 = b.filter("conv_id >= 'conv-00000050'")
    b1.select("conv_id", "turn_idx", "role", "text", "tool", "ts").coalesce(
        1
    ).write.mode("append").parquet(src)
    b2.select("conv_id", "turn_idx", "role", "text", "tool", "ts").coalesce(
        1
    ).write.mode("append").parquet(src)

    stream_append(spark, src, base_dir, str(tmp_path / "ckpt"))

    m = read_manifest(base_dir)
    stream_groups = [g for g in m["completed_groups"] if g.startswith("stream_")]
    assert stream_groups, "no streamed groups recorded"

    queries = make_queries(25)
    ref = Index(spark, ref_dir)
    streamed = Index(spark, base_dir)
    want = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in index_search(ref, queries, k=10).collect()
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in index_search(streamed, queries, k=10).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_stream_is_exactly_once_on_rerun(spark, corpora, tmp_path):
    """Re-running the drained stream with the same checkpoint must add no
    new groups (epochs already committed)."""
    full, a, b = corpora
    full_stats = compute_corpus_stats(full.select("doc_id", "text"), PARAMS)
    base_dir = str(tmp_path / "base2")
    build_index(a.select("doc_id", "text"), base_dir, PARAMS, "partA2",
                stats_override=full_stats)
    src = str(tmp_path / "incoming2")
    b.select("conv_id", "turn_idx", "role", "text", "tool", "ts").coalesce(
        1
    ).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt2")
    stream_append(spark, src, base_dir, ckpt)
    groups1 = set(read_manifest(base_dir)["completed_groups"])
    stream_append(spark, src, base_dir, ckpt)  # nothing new to consume
    groups2 = set(read_manifest(base_dir)["completed_groups"])
    assert groups1 == groups2


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: the streamed CLOSED sessions
    must equal batch sessionize minus each user's trailing (still-open)
    session — and the result must be invariant to micro-batch boundaries
    (time-ordered batches extend the same state)."""
    from sparkbm25.pipeline.events import sessionize
    from sparkbm25.streaming import streaming_sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev_src")
    # two time-ordered files -> two micro-batches sharing state
    cut = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first()["m"]
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(f"{src}/b=0")
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(f"{src}/b=1")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b=*")
        .select("user_id", "ts", "value")
    )
    out = streaming_sessionize(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.n_events, round(r.sum_value, 2))
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    batch = sessionize(ev.select("user_id", "ts", "value"), 30)
    # drop each user's LAST session (still open in the stream)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("session_seq"))
    closed = batch.withColumn("rn", F.row_number().over(w)).filter("rn > 1")
    want = {
        (r.user_id,
         int(r.session_start.replace(tzinfo=__import__("datetime").timezone.utc)
             .timestamp()),
         int(r.session_end.replace(tzinfo=__import__("datetime").timezone.utc)
             .timestamp()),
         r.n_events, round(float(r.sum_value), 2))
        for r in closed.collect()
    }
    assert len(want) > 0
    assert got == want


def test_index_refresh_after_finalize(spark, corpora, tmp_path):
    """ADVICE r01: an Index handle constructed BEFORE finalize_stream holds
    stale parquet handles and a stale driver stats cache; refresh() must
    restore correct results without constructing a new handle."""
    from sparkbm25.jobs import build_index as bi
    from sparkbm25.streaming import append_batch, finalize_stream

    full, a, b = corpora
    full_stats = compute_corpus_stats(full.select("doc_id", "text"), PARAMS)
    d = str(tmp_path / "refresh_ix")
    bi(a.select("doc_id", "text"), d, PARAMS, "partA",
       stats_override=full_stats)
    ix = Index(spark, d)
    queries = make_queries(10)
    index_search(ix, queries, k=5).count()  # warm: stats cache + handles

    bdocs = add_doc_id(b, "conv_seq").select("doc_id", "text")
    append_batch(bdocs, d, epoch_id=0)
    finalize_stream(spark, d)

    ix.refresh()
    ref_dir = str(tmp_path / "refresh_ref")
    bi(full.select("doc_id", "text"), ref_dir, PARAMS, "full",
       stats_override=full_stats)
    ref = Index(spark, ref_dir)
    want = sorted((r.query_id, r.rank, r.doc_id)
                  for r in index_search(ref, queries, k=5).collect())
    got = sorted((r.query_id, r.rank, r.doc_id)
                 for r in index_search(ix, queries, k=5).collect())
    assert got == want
    assert ix.n_docs == ref.n_docs


def test_streaming_sessionize_event_time(spark, tmp_path):
    """Event-time variant: beyond-watermark events are DROPPED, and
    trailing sessions CLOSE once the watermark passes last+gap — so the
    streamed output equals batch sessionize over the watermark-filtered
    input, restricted to sessions the final watermark finalized."""
    import datetime as dt

    from sparkbm25.pipeline.events import sessionize
    from sparkbm25.streaming import streaming_sessionize_event_time

    def ts(s):  # epoch seconds -> naive UTC timestamp
        return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(tzinfo=None)

    GAP_MIN, WM = 30, 10  # gap 1800 s, watermark delay 600 s
    # batch 0: two sessions in the past + a watermark driver far ahead
    b0 = [
        (1, ts(1000), 1.0), (1, ts(1100), 2.0),   # user 1 session A
        (2, ts(1200), 3.0),                        # user 2 session
        (99, ts(100_000), 9.0),                    # drives wm to 99_400
    ]
    # batch 1: a beyond-watermark late event (1150 < 99_400 -> dropped)
    # and a fresh user-1 event that stays open at end of stream
    b1 = [
        (1, ts(1150), 100.0),                      # DROPPED (late)
        (1, ts(200_000), 4.0),                     # open trailing session
    ]
    src = str(tmp_path / "etsrc")
    schema = "user_id long, ts timestamp_ntz, value double"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/b=0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b=1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b=*")
        .select("user_id", "ts", "value")
    )
    q = (
        streaming_sessionize_event_time(stream, GAP_MIN, WM)
        .writeStream.format("memory").queryName("et_sess")
        .option("checkpointLocation", str(tmp_path / "et_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.n_events, round(r.sum_value, 2))
        for r in spark.sql("SELECT * FROM et_sess").collect()
    }

    # expected: batch sessionize over input MINUS the dropped late event,
    # restricted to sessions finalized by the final watermark
    # (end + gap < max(ts) - delay); user 1's trailing session stays open
    kept = [r for r in b0 + b1 if r != (1, ts(1150), 100.0)]
    ev = spark.createDataFrame(kept, schema)
    final_wm = 200_000 - 600
    want = set()
    for r in sessionize(ev.select("user_id", "ts", "value"), GAP_MIN).collect():
        end_s = int(r.session_end.replace(tzinfo=dt.timezone.utc).timestamp())
        if end_s + GAP_MIN * 60 < final_wm:
            want.add((
                r.user_id,
                int(r.session_start.replace(tzinfo=dt.timezone.utc).timestamp()),
                end_s, r.n_events, round(float(r.sum_value), 2),
            ))
    assert want == {
        (1, 1000, 1100, 2, 3.0),   # session A closed by the gap rule
        (2, 1200, 1200, 1, 3.0),   # closed by event-time TIMEOUT
        (99, 100_000, 100_000, 1, 9.0),  # closed by the no-data batch
    }
    assert got == want


def test_compact_index_preserves_results(spark, corpora, tmp_path):
    """Segment merge: base (2 lineage groups) + 2 streamed epochs compact
    into ONE group with bit-identical search results (same postings, same
    frozen stats — only the physical layout changes), equal posting count,
    and a clean manifest. No corpus re-read: compaction runs on the block
    binaries alone."""
    import os

    from sparkbm25.build import BuildParams
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index
    from sparkbm25.streaming import append_batch, compact_index, finalize_stream

    _full, a, b = corpora
    base = a.select("doc_id", "text")
    d = str(tmp_path / "compact_ix")
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=4,
                         lineage_groups=2)
    build_index(base, d, params, source_fingerprint="compact-test")
    extra = b.select("doc_id", "text")
    b1 = extra.filter(F.col("doc_id") % 2 == 0)
    b2 = extra.filter(F.col("doc_id") % 2 == 1)
    append_batch(b1, d, 0)
    append_batch(b2, d, 1)
    finalize_stream(spark, d)

    # query terms must exist in the fixture corpus: derive from term_stats
    vocab = sorted(
        r.term for r in spark.read.parquet(f"{d}/term_stats")
        .orderBy(F.desc("df")).limit(6).collect()
    )
    queries = [(0, f"{vocab[0]} {vocab[1]}"), (1, f"{vocab[2]} {vocab[2]} {vocab[3]}"),
               (2, f"{vocab[4]} {vocab[5]}")]

    ix = Index(spark, d)
    before = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in index_search(ix, queries, k=15).collect()
    )
    groups_before = set(os.listdir(os.path.join(d, "postings")))
    assert len(groups_before) == 4  # group=0, group=1, 2 stream epochs

    m = compact_index(spark, d)
    assert m["status"] == "COMPLETED"
    assert list(m["completed_groups"]) == ["compacted"]
    assert m["metrics"]["compaction"]["groups_merged"] == 4
    groups_after = {
        g for g in os.listdir(os.path.join(d, "postings"))
        if g.startswith("group=")
    }
    assert groups_after == {"group=compacted"}
    assert not os.path.exists(os.path.join(d, "compact_staging"))

    ix2 = Index(spark, d)  # fresh handle (refresh contract)
    after = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in index_search(ix2, queries, k=15).collect()
    )
    assert after == before  # bit-exact: scores AND ranks
    # blockmax strategy agrees on the compacted layout
    after_bm = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in index_search(ix2, queries, k=15, strategy="blockmax").collect()
    )
    assert after_bm == before


def test_compact_index_preserves_stored_text(spark, corpora, tmp_path):
    """Compaction must carry doc_stats' optional stored-text column through
    the layout collapse: fetch_text on the compacted index returns the
    same texts it did before."""
    import os

    from sparkbm25.build import BuildParams
    from sparkbm25.jobs import Index, build_index
    from sparkbm25.streaming import append_batch, compact_index, finalize_stream

    _full, a, b = corpora
    d = str(tmp_path / "compact_text_ix")
    params = BuildParams(num_shards=2, salt_factor=2, num_term_buckets=2,
                         lineage_groups=1, store_text=True)
    build_index(a.select("doc_id", "text"), d, params, "compact-text")
    append_batch(b.select("doc_id", "text"), d, 0)
    finalize_stream(spark, d)

    ids = [r.doc_id for r in a.limit(3).collect()] + [
        r.doc_id for r in b.limit(3).collect()
    ]
    id_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ix = Index(spark, d)
    before = {r.doc_id: r.text for r in ix.fetch_text(id_df).collect()}
    assert len(before) == len(ids) and all(v for v in before.values())

    compact_index(spark, d)
    ix2 = Index(spark, d)
    after = {r.doc_id: r.text for r in ix2.fetch_text(id_df).collect()}
    assert after == before


def test_event_time_timeout_respects_truncated_gap(spark, tmp_path):
    """Sub-second boundary: the gap-close rule is SECOND-truncated
    (matches batch unix_timestamp semantics), so the event-time timeout
    must not fire while an event could still extend the session under
    that rule. With last=1000.9s and gap=1800s, an event at 2800.98s
    still extends (2800-1000 = 1800, not > 1800); a watermark of
    2800.95s sits between the (buggy) ms-armed fire point 2800.901s and
    the correct 2801.0s one — the session must stay OPEN and absorb the
    extender, emitting nothing."""
    import datetime as dt

    from sparkbm25.streaming import streaming_sessionize_event_time

    def ts(s):
        return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(tzinfo=None)

    schema = "user_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "subsec_src")
    # batch 0: u1's session at 1000.9; u99 drives wm to 2803.95-3 = 2800.95
    spark.createDataFrame(
        [(1, ts(1000.9), 1.0), (99, ts(2803.95), 9.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b=0")
    # batch 1: still-extending event for u1 under the truncated rule
    spark.createDataFrame(
        [(1, ts(2800.98), 2.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b=1")

    q = (
        streaming_sessionize_event_time(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/b=*"),
            gap_minutes=30, watermark_minutes=0.05,  # 3 s delay
        )
        .writeStream.format("memory").queryName("subsec_sess")
        .option("checkpointLocation", str(tmp_path / "subsec_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM subsec_sess").collect()
    # nothing is final: u1's session absorbed the 2800.98 extender instead
    # of being timeout-closed at 2800.901 (the ms-armed bug), u99 is open
    assert rows == [], rows


def test_event_time_late_event_bridges_split_sessions(spark, tmp_path):
    """A gap split must NOT finalize the closed session before the
    watermark passes its end+gap: a late-but-accepted event can land
    between the split session and the open one and BRIDGE them. With
    gap=delay=30 min and events t=1000, 3000, then late t=2500 (accepted:
    watermark is only 1200 when it arrives), batch sessionize over the
    accepted input yields ONE session [1000, 3000] — the stream must
    match, not emit [1000,1000] + [2500,3000]."""
    import datetime as dt

    from sparkbm25.streaming import streaming_sessionize_event_time

    def ts(s):
        return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(tzinfo=None)

    schema = "user_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "bridge_src")
    # batch 0: u1 events 1000 and 3000 -> gap split (2000 > 1800);
    # watermark after the batch = 3000 - 1800 = 1200
    spark.createDataFrame(
        [(1, ts(1000), 1.0), (1, ts(3000), 2.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b=0")
    # batch 1: late bridge event 2500 (>= wm 1200: accepted) + a watermark
    # driver pushing wm to 98_200 so the merged session finalizes
    spark.createDataFrame(
        [(1, ts(2500), 4.0), (99, ts(100_000), 9.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b=1")

    q = (
        streaming_sessionize_event_time(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/b=*"),
            gap_minutes=30, watermark_minutes=30,
        )
        .writeStream.format("memory").queryName("bridge_sess")
        .option("checkpointLocation", str(tmp_path / "bridge_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp()),
         int(r.session_end.timestamp()), r.n_events, round(r.sum_value, 2))
        for r in spark.sql("SELECT * FROM bridge_sess").collect()
    }
    # u1: one merged session (the bridge worked); u99 still open at drain
    assert got == {(1, 1000, 3000, 3, 7.0)}, got


def test_event_time_watermark_exceeding_gap_refused(spark, tmp_path):
    from sparkbm25.streaming import streaming_sessionize_event_time

    stream = spark.readStream.schema(
        "user_id long, ts timestamp_ntz, value double"
    ).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="watermark_minutes"):
        streaming_sessionize_event_time(stream, gap_minutes=30,
                                        watermark_minutes=31)


def test_delete_docs_then_compact_purges(spark, corpora, tmp_path):
    """Tombstone lifecycle: (1) logical deletes exclude docs from every
    search immediately (frozen stats — oracle with allowed=alive on the
    ORIGINAL corpus), blockmax included; (2) compaction physically
    purges postings + doc_stats, rolls n_docs/avgdl forward to the alive
    corpus (results == oracle REBUILT on alive docs) and clears
    tombstones."""
    import numpy as np

    from sparkbm25.build import BuildParams
    from sparkbm25.fixtures import make_queries
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index, delete_docs
    from sparkbm25.oracle import OracleIndex
    from sparkbm25.streaming import compact_index

    full, _a, _b = corpora
    corpus = full.select("doc_id", "text")
    d = str(tmp_path / "tomb_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq"),
        source_fingerprint="tomb",
    )
    docs = [(r.doc_id, r.text) for r in corpus.collect()]
    rng = np.random.default_rng(5)
    dead = {int(docs[i][0]) for i in rng.choice(len(docs), 25, replace=False)}
    alive_docs = [(i, t) for i, t in docs if i not in dead]
    queries = make_queries(15)

    m = delete_docs(spark, d, sorted(dead))
    assert m["metrics"]["n_deleted"] == len(dead)
    ix = Index(spark, d)
    ora_full = OracleIndex.build(docs)
    want_logical = ora_full.search_all(
        queries, k=10, allowed={i for i, _ in alive_docs}
    )
    got = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
                 for r in index_search(ix, queries, k=10).collect())
    assert [g[:3] for g in got] == sorted(
        (q, rk, d_) for q, rk, d_, _s in want_logical
    ), "logical delete: sharded"
    assert not ({r.doc_id for r in
                 index_search(ix, queries, k=10).collect()} & dead)
    # blockmax under tombstones: the kernel masks dead postings
    got_bm = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_search(ix, queries, k=10,
                              strategy="blockmax").collect()
    )
    assert got_bm == sorted((q, rk, d_) for q, rk, d_, _s in want_logical)

    # ---- physical purge ------------------------------------------------
    n_before = spark.read.parquet(f"{d}/postings").groupBy().sum(
        "n_docs").first()[0]
    m2 = compact_index(spark, d)
    assert m2["metrics"]["n_deleted"] == 0
    assert m2["metrics"]["purged_docs"] == len(dead)
    assert not os.path.exists(os.path.join(d, "tombstones"))
    n_after = spark.read.parquet(f"{d}/postings").groupBy().sum(
        "n_docs").first()[0]
    assert n_after < n_before
    # results now equal the oracle REBUILT on the alive corpus (new stats)
    ix2 = Index(spark, d)
    assert len(ix2.tombstones_array()) == 0
    ora_alive = OracleIndex.build(alive_docs)
    want_purged = ora_alive.search_all(queries, k=10)
    for strategy in ("sharded", "blockmax"):
        got2 = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in index_search(ix2, queries, k=10,
                                  strategy=strategy).collect()
        )
        want_s = sorted((q, rk, d_, round(s, 9)) for q, rk, d_, s in want_purged)
        assert [g[:3] for g in got2] == [w[:3] for w in want_s], strategy
        for g, w in zip(got2, want_s):
            assert g[3] == pytest.approx(w[3], rel=1e-9)
    assert ix2.n_docs == len(alive_docs)


def test_reingested_id_supersedes_tombstone(spark, corpora, tmp_path):
    """Latest write wins via PER-GROUP tombstones: deleting id X and then
    appending a batch whose ids include X must make X searchable again
    (the new group's seq exceeds the delete seq, so only pre-existing
    copies stay masked), and a later compaction must NOT purge the new
    copy."""
    from sparkbm25.build import BuildParams, compute_corpus_stats
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index, delete_docs, read_manifest
    from sparkbm25.streaming import append_batch, compact_index, finalize_stream

    full, a, b = corpora
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                         lineage_groups=1, doc_id_scheme="conv_seq")
    full_stats = compute_corpus_stats(full.select("doc_id", "text"), params)
    d = str(tmp_path / "undel_ix")
    build_index(a.select("doc_id", "text"), d, params, "undelA",
                stats_override=full_stats)

    bdocs = add_doc_id(b, "conv_seq").select("doc_id", "text")
    victim = int(bdocs.first().doc_id)
    # also delete one id that will NOT be re-ingested (stays dead)
    a_ids = [r.doc_id for r in a.select("doc_id").limit(2).collect()]
    stay_dead = int(a_ids[0])
    delete_docs(spark, d, [victim, stay_dead])
    assert read_manifest(d)["metrics"]["n_deleted"] == 2

    append_batch(bdocs, d, epoch_id=7)
    finalize_stream(spark, d)
    m = read_manifest(d)
    # both tombstones REMAIN on disk (they mask only pre-delete groups);
    # the appended group's seq supersedes them for the new copy
    assert m["metrics"]["n_deleted"] == 2
    assert m["completed_groups"]["stream_7"]["seq"] > 0

    ix = Index(spark, d)
    assert {victim, stay_dead} <= set(ix.tombstones_array())
    # the re-ingested doc is searchable: query its own text
    vtext = bdocs.filter(f"doc_id = {victim}").first().text
    hits = {r.doc_id for r in index_search(ix, [(0, vtext)], k=10).collect()}
    assert victim in hits and stay_dead not in hits

    compact_index(spark, d)
    ix2 = Index(spark, d)
    assert ix2.n_deleted() == 0
    hits2 = {r.doc_id for r in index_search(ix2, [(0, vtext)], k=10).collect()}
    assert victim in hits2
    assert ix2.doc_stats().filter(f"doc_id = {victim}").count() == 1
    assert ix2.doc_stats().filter(f"doc_id = {stay_dead}").count() == 0


def test_failed_append_manifest_write_leaves_search_unchanged(
        spark, corpora, tmp_path, monkeypatch):
    """append_batch moves its group into postings/ and doc_stats/ before
    the manifest lists it. When that manifest write fails, a refreshed
    handle must not score the unlisted group: search returns exactly the
    pre-append rows, although the appended docs match the queries. The
    next finalize_stream and compact_index must not read it either:
    term_stats and n_docs keep their pre-append values, and the
    compacted index holds none of the batch's docs."""
    from sparkbm25 import streaming

    full, a, b = corpora
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                         lineage_groups=1, doc_id_scheme="conv_seq")
    d = str(tmp_path / "orphan_ix")
    build_index(a.select("doc_id", "text"), d, params, "orphanA")
    bdocs = b.select("doc_id", "text")
    queries = [(0, bdocs.first().text)] + make_queries(10)
    ix = Index(spark, d)
    before = sorted(tuple(r) for r in index_search(ix, queries, k=10).collect())

    def fail(*args, **kwargs):
        raise OSError("injected manifest write failure")

    def term_stats():
        return sorted(map(tuple, spark.read.parquet(
            os.path.join(d, "term_stats")).collect()))

    stats_before = term_stats()
    n_docs_before = read_manifest(d)["build"]["n_docs"]
    with monkeypatch.context() as m:
        m.setattr(streaming, "_write_manifest", fail)
        with pytest.raises(OSError, match="injected"):
            streaming.append_batch(bdocs, d, epoch_id=3)
    assert os.path.isdir(os.path.join(d, "postings", "group=stream_3"))
    ix.refresh()
    after = sorted(tuple(r) for r in index_search(ix, queries, k=10).collect())
    assert after == before

    streaming.finalize_stream(spark, d)
    assert term_stats() == stats_before
    assert read_manifest(d)["build"]["n_docs"] == n_docs_before
    streaming.compact_index(spark, d)
    batch_ids = {r.doc_id for r in bdocs.select("doc_id").collect()}
    kept = {r.doc_id for r in Index(spark, d).doc_stats().collect()}
    assert kept and not kept & batch_ids


def test_reingest_of_doc_with_base_postings(spark, corpora, tmp_path):
    """The 'corrected document' flow where the re-ingested id ALREADY HAS
    postings in the base index (the round-4 advice's failure mode): after
    delete + re-ingest with DIFFERENT text, (1) only the NEW copy scores —
    no duplicate live postings, no double counting; (2) the old copy's
    unique terms no longer find the doc; (3) finalize's uniqueness audit
    passes (one LIVE copy); (4) compaction does not crash on duplicate
    doc_ids and keeps exactly the new copy; (5) scores equal an oracle
    whose corpus holds the corrected text."""
    from sparkbm25.build import BuildParams, compute_corpus_stats
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index, delete_docs
    from sparkbm25.oracle import OracleIndex
    from sparkbm25.streaming import append_batch, compact_index, finalize_stream

    full, a, _b = corpora
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                         lineage_groups=1, doc_id_scheme="conv_seq")
    adocs = a.select("doc_id", "text")
    stats = compute_corpus_stats(adocs, params)
    d = str(tmp_path / "correct_ix")
    build_index(adocs, d, params, "corrA", stats_override=stats)

    rows = adocs.orderBy("doc_id").limit(3).collect()
    victim = int(rows[1].doc_id)
    old_text = rows[1].text
    # corrected text shares SOME terms with the old copy (the
    # double-counting hazard) and adds a unique marker
    shared = " ".join(old_text.split()[:4])
    new_text = f"{shared} zzcorrectedzz fresh copy"
    delete_docs(spark, d, [victim])
    append_batch(
        spark.createDataFrame([(victim, new_text)], "doc_id long, text string"),
        d, epoch_id=3,
    )
    finalize_stream(spark, d)  # must NOT raise the collision audit

    ix = Index(spark, d)
    # exact emulation of the pre-compaction index state: the DEAD old copy
    # still contributes to df (Lucene docFreq includes deleted docs until
    # merge — term_stats here count dead postings too) but never scores;
    # model it as a sentinel doc excluded via allowed=. n_docs counts both
    # copies (frozen-stats contract); avgdl stays frozen at the base value.
    docs_a = [(int(r.doc_id), r.text) for r in adocs.collect()]
    sentinel = max(i for i, _ in docs_a) + 1_000_000
    emu = [(i if i != victim else sentinel, t) for i, t in docs_a]
    emu.append((victim, new_text))
    ora = OracleIndex.build(emu)
    assert ora.n_docs == ix.n_docs  # manifest counted the dead copy too
    ora.avgdl = ix.avgdl  # frozen base avgdl (append never re-averages)
    allowed = {i for i, _ in emu if i != sentinel}
    queries = [(0, new_text), (1, old_text), (2, shared)]
    for strategy in ("sharded", "blockmax"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in index_search(ix, queries, k=10,
                                  strategy=strategy).collect()
        )
        want = sorted(
            (q, rk, di, round(s, 9))
            for q, rk, di, s in ora.search_all(queries, k=10, allowed=allowed)
        )
        assert [g[:3] for g in got] == [w[:3] for w in want], strategy
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], rel=1e-9), strategy

    # compaction: no duplicate-doc crash, exactly the new copy survives
    compact_index(spark, d)
    ix2 = Index(spark, d)
    assert ix2.doc_stats().filter(f"doc_id = {victim}").count() == 1
    hits = {r.doc_id for r in
            index_search(ix2, [(0, "zzcorrectedzz")], k=10).collect()}
    assert hits == {victim}

    # delete-after-reingest: a NEWER delete kills the corrected copy too
    delete_docs(spark, d, [victim])
    ix3 = Index(spark, d).refresh()
    hits3 = {r.doc_id for r in
             index_search(ix3, [(0, "zzcorrectedzz")], k=10).collect()}
    assert hits3 == set()


def test_tombstone_mask_oracle_identity(spark, corpora, tmp_path,
                                        monkeypatch):
    """Every seventh doc deleted on a two-group index: the closure
    tombstone mask gives the oracle's live-doc results in the driver
    and on the Spark route (the pair shipped with each task), on both
    strategies, and composes with `where=` filters on the side-direct
    plan."""
    import sparkbm25.index_query as iq
    from sparkbm25.build import BuildParams
    from sparkbm25.fixtures import make_queries
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index, delete_docs
    from sparkbm25.oracle import OracleIndex

    full, _a, _b = corpora
    corpus = full.select("doc_id", "text", "role")
    d = str(tmp_path / "cotomb_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=2, doc_id_scheme="conv_seq",
                    attr_cols=("role",)),
        source_fingerprint="cotomb",
    )
    rows = corpus.collect()
    dead = {int(r.doc_id) for r in rows[::7]}
    delete_docs(spark, d, sorted(dead))
    queries = make_queries(12)
    ora = OracleIndex.build([(r.doc_id, r.text) for r in rows])
    alive = {int(r.doc_id) for r in rows} - dead
    want = sorted(
        (q, rk, di) for q, rk, di, _s in
        ora.search_all(queries, k=10, allowed=alive)
    )

    ix = Index(spark, d)
    got_driver = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_search(ix, queries, k=10).collect()
    )
    assert got_driver == want

    # the Spark route: the mask rides each task's closure
    monkeypatch.setattr(iq, "_serve_in_driver", lambda *a: False)
    got_spark = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_search(ix, queries, k=10).collect()
    )
    assert got_spark == want
    got_bm = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_search(ix, queries, k=10,
                              strategy="blockmax").collect()
    )
    assert got_bm == want
    # composes with where= (live qualifying side + closure mask)
    allowed_user = {int(r.doc_id) for r in rows if r.role == "user"} - dead
    want_f = sorted(
        (q, rk, di) for q, rk, di, _s in
        ora.search_all(queries, k=10, allowed=allowed_user)
    )
    got_f = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in index_search(ix, queries, k=10,
                              where={"role": "user"}).collect()
    )
    assert got_f == want_f


def test_ten_million_tombstones_search_succeeds(spark, corpora, tmp_path):
    """The round-4 cap (driver-side array, refuse past 10M) is GONE:
    deleting >10M ids must leave the index searchable without compaction.
    Most synthetic ids are absent (no-op by masking) plus real victims."""
    from pyspark.sql import functions as F

    from sparkbm25.build import BuildParams
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index, delete_docs

    full, _a, _b = corpora
    corpus = full.select("doc_id", "text")
    d = str(tmp_path / "bigtomb_ix")
    build_index(
        corpus, d,
        BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                    lineage_groups=1, doc_id_scheme="conv_seq"),
        source_fingerprint="bigtomb",
    )
    victims = [int(r.doc_id) for r in corpus.limit(3).collect()]
    synthetic = spark.range(10_500_000).select(
        (F.col("id") + 4_000_000_000_000).alias("doc_id")
    )
    ids_df = synthetic.unionByName(
        spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    m = delete_docs(spark, d, ids_df)
    assert m["metrics"]["n_deleted"] > 10_000_000
    ix = Index(spark, d)
    vtext = corpus.filter(f"doc_id = {victims[0]}").first().text
    hits = {r.doc_id for r in index_search(ix, [(0, vtext)], k=10).collect()}
    assert hits and not (hits & set(victims))


def test_stream_append_preserves_attr_cols(spark, corpora, tmp_path):
    """Filterable attributes must survive segment append: a filtered
    search over base + appended groups sees BOTH groups' attribute values
    (the reviewed failure dropped attr columns from streamed doc_stats,
    silently excluding every appended doc from filtered searches)."""
    from sparkbm25.build import BuildParams, compute_corpus_stats
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index
    from sparkbm25.streaming import append_batch, finalize_stream

    full, a, b = corpora
    params = BuildParams(num_shards=4, salt_factor=2, num_term_buckets=8,
                         lineage_groups=1, doc_id_scheme="conv_seq",
                         attr_cols=("role",))
    full_stats = compute_corpus_stats(full.select("doc_id", "text"), params)
    d = str(tmp_path / "attr_stream_ix")
    build_index(a.select("doc_id", "text", "role"), d, params, "attrA",
                stats_override=full_stats)
    bdocs = add_doc_id(b, "conv_seq").select("doc_id", "text", "role")
    append_batch(bdocs, d, epoch_id=3)
    finalize_stream(spark, d)

    ix = Index(spark, d)
    user_ids = {r.doc_id for r in full.filter("role = 'user'")
                .select("doc_id").collect()}
    b_user = {r.doc_id for r in bdocs.filter("role = 'user'")
              .select("doc_id").collect()}
    hits = {r.doc_id for r in index_search(ix, make_queries(15), k=10,
                                           where={"role": "user"}).collect()}
    assert hits and hits <= user_ids
    # appended docs are reachable through the filter, not silently excluded
    all_user_hits = {
        r.doc_id
        for r in index_search(
            ix, [(0, bdocs.filter("role = 'user'").first().text)], k=10,
            where={"role": "user"},
        ).collect()
    }
    assert all_user_hits & b_user, "no appended doc passed the filter"
