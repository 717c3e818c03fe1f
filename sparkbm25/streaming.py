"""Structured Streaming ingest — incremental index maintenance.

The reference is batch-only (builds are one-shot jobs, SURVEY.md §1.2:
"resumable ≠ streaming"); this module is the Spark-native extension a
standing transcript firehose needs: new conversation turns land as files,
``stream_append`` folds each micro-batch into NEW lineage groups of an
existing index — the Lucene-segment model expressed as Structured Streaming.

Contract (recorded in the manifest):
- corpus statistics (N, avgdl) and shard geometry stay FROZEN at base-build
  values; streamed postings are scored with them. BM25 stats drift is
  handled by periodic full rebuild (exactly how search engines run segment
  merges), not per-batch re-statistics — per-batch re-stats would change
  historical scores and break idempotent resume.
- each micro-batch becomes lineage group ``stream_<epoch>``; the streaming
  checkpoint makes delivery exactly-once, so a crashed stream resumes
  without duplicating postings (Spark re-runs the failed epoch; the group
  dir is overwritten idempotently).
- term_stats are re-finalized after the stream drains (``finalize_stream``)
  — queries against a live stream see slightly stale df/idf until then.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    POSTING_LAYOUT,
    _stats_from_manifest,
    write_doc_stats,
    write_group_blocks,
)
from .jobs import (
    _write_manifest,
    publish_group,
    read_manifest,
    write_group,
    write_term_stats,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def append_batch(
    corpus_batch: DataFrame, index_dir: str, epoch_id: int
) -> None:
    """Fold one micro-batch (doc_id, text) into group stream_<epoch>.
    Idempotent per epoch: re-running a failed epoch overwrites its group
    (and keeps its original seq).

    The new group's creation seq comes from the manifest's seq_counter
    under the artifact lock, so a doc re-ingested AFTER a delete lands in
    a group with seq > del_seq and is live immediately while its OLD
    postings in pre-existing groups stay masked — Lucene's per-segment
    delete semantics (a delete applies only to segments existing at delete
    time); the next compaction purges the dead copy and keeps this one.
    The lock also serializes the manifest read-modify-write against
    concurrent delete_docs (an unlocked rewrite could clobber a
    just-appended tombstone file or n_deleted).

    The group is written under ``append_staging/`` (jobs.write_group,
    which refuses postings whose token count differs from the doc
    lengths), moved into ``postings/`` and ``doc_stats/`` by rename and
    then listed in the manifest; search reads the postings and norms of
    listed groups only, so an append that fails at any step changes no
    search result.

    An index of an older posting layout is refused: the new group would
    be written in layout 3 beside it, and search reads layout 3 only;
    compact_index upgrades it first."""
    from .jobs import artifact_lock

    with artifact_lock(index_dir, f"append:{epoch_id}"):
        m = read_manifest(index_dir)
        if m is None:
            raise FileNotFoundError(f"no base index manifest at {index_dir}")
        layout = int(m["build"].get("posting_layout", 1))
        if layout < POSTING_LAYOUT:
            raise ValueError(
                f"index at {index_dir} has posting layout {layout}; compact "
                f"it first (compact_index writes layout {POSTING_LAYOUT}) "
                "before appending"
            )
        params, stats = _stats_from_manifest(m)
        g = f"stream_{epoch_id}"
        prior = m["completed_groups"].get(g)
        seq = (
            int(prior["seq"]) if prior and "seq" in prior
            else int(m.get("seq_counter", 0)) + 1
        )
        gdir = os.path.join(index_dir, "postings", f"group={g}")
        ddir = os.path.join(index_dir, "doc_stats", f"group={g}")
        staging = os.path.join(index_dir, "append_staging")
        g_stage = os.path.join(staging, "postings", f"group={g}")
        d_stage = os.path.join(staging, "doc_stats", f"group={g}")
        t0 = time.time()
        # the artifact lock excludes every other mutator, so whatever
        # sits under append_staging/ is a failed append's leftover
        shutil.rmtree(staging, ignore_errors=True)
        try:
            write_group(corpus_batch, params, stats.shard_shift,
                        g_stage, d_stage)
            publish_group(((g_stage, gdir), (d_stage, ddir)))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        m["completed_groups"][g] = {
            "wall_s": round(time.time() - t0, 3),
            "postings_path": gdir,
            "doc_stats_path": ddir,
            "stream_epoch": epoch_id,
            "seq": seq,
        }
        m["seq_counter"] = max(int(m.get("seq_counter", 0)), seq)
        _write_manifest(index_dir, m)


def stream_append(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    doc_id_scheme: str = "conv_seq",
    available_now: bool = True,
):
    """readStream over a transcript file drop-zone → incremental groups.

    available_now=True drains what exists and stops (test/backfill mode);
    False runs continuously. The checkpoint gives exactly-once epochs."""
    from .corpus import add_doc_id

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(source_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        corpus = add_doc_id(batch_df, doc_id_scheme).select("doc_id", "text")
        append_batch(corpus, index_dir, epoch_id)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        finalize_stream(spark, index_dir)
        return q
    return writer.start()


def finalize_stream(spark: SparkSession, index_dir: str) -> None:
    """Recompute global term stats over base + streamed groups AND refresh
    the manifest's n_docs to the true total.

    n_docs MUST move together with term_stats: with frozen base N and
    recomputed df, a term appearing in more docs than the base corpus gets
    df > N and a NEGATIVE idf — which breaks the positive-contribution
    assumption the scoring kernels' candidate selection relies on (a
    matched doc's score is nonzero). After this update
    df <= n_docs always holds, so idf >= ln(1 + 0.5/(df+0.5)) > 0.
    avgdl stays frozen by contract (tf normalization drift is handled by
    periodic full rebuild, like segment-merge policies)."""
    from .jobs import live_doc_stats_df

    m = read_manifest(index_dir)
    m["build"]["n_terms"] = write_term_stats(
        spark.read.parquet(os.path.join(index_dir, "postings")), index_dir
    )
    # doc_id uniqueness audit across base + ALL streamed epochs, over LIVE
    # rows only: an id ingested twice while both copies are live
    # (base/stream overlap, or one doc in two epochs' files) would silently
    # double-count in every query path and violate the
    # one-posting-per-(term,doc) invariant the scoring fold and the
    # merge kernel's strictly-increasing check rely on. A re-ingested
    # previously-DELETED id is legal: its old copy is tombstone-masked
    # (dead), so exactly one live copy remains. Mirrors
    # compute_corpus_stats' hash64 audit.
    ds_all = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    live_row = (
        live_doc_stats_df(spark, index_dir, m, ds_all)
        .agg(
            F.count("doc_id").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .first()
    )
    if int(live_row.n) != int(live_row.nd):
        raise ValueError(
            f"doc_id collision across base+streamed groups: {live_row.n} "
            f"live rows, {live_row.nd} distinct — a document was ingested "
            "twice without an intervening delete; drop the offending epoch "
            "group or rebuild"
        )
    # frozen-stats universe keeps ALL copies (dead ones included) until a
    # compaction purges them — df counts dead postings too, so n_docs must
    # as well or idf could go negative (df > N breaks the positive-
    # contribution assumption the scoring kernels rely on)
    total_docs = int(ds_all.count())
    m["streamed_total_docs"] = total_docs
    m["build"]["n_docs"] = max(int(m["build"]["n_docs"]), int(total_docs))
    _write_manifest(index_dir, m)


def streaming_sessionize(stream: DataFrame, gap_minutes: int = 30,
                         idle_timeout_ms: int | None = None):
    """Custom STATEFUL streaming operator: gap-based sessionization via
    applyInPandasWithState — per-user session state lives in the state
    store across micro-batches; a session CLOSES (and is emitted) when a
    later event arrives more than `gap` after it, so emitted rows are
    final (append mode, exactly-once with checkpointing). Each user's
    still-open trailing session stays in state — the same semantics as
    batch `events.sessionize` minus each user's last session, which is the
    equivalence tested in tests/test_streaming.py.

    State is bounded: one (start, last, n, sum) tuple per active user.
    idle_timeout_ms (continuous deployments only) adds a processing-time
    timeout that flushes users idle in wall-clock terms — the 10^12-event
    stream's state-retention knob. Leave None for availableNow/backfill
    runs: a pending processing-time timeout keeps an availableNow query
    alive past its drained input (measured — the query never terminates)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = "start long, last long, n long, sv double"

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        closed: list[tuple] = []
        if state.exists:
            start, last, n, sv = state.get
        else:
            start = last = None
            n, sv = 0, 0.0
        if state.hasTimedOut:
            if start is not None:
                closed.append((uid, start, last, n, sv))
            state.remove()
        else:
            batch = pd.concat(list(pdfs), ignore_index=True)
            if not batch.empty:
                batch = batch.sort_values("ts", kind="stable")
                # state keeps NANOSECONDS (full event-time precision for the
                # emitted boundaries); the gap test truncates to seconds to
                # match batch sessionize's unix_timestamp semantics
                ep = batch["ts"].astype("int64").to_numpy()
                vals = batch["value"].to_numpy()
                for t, v in zip(ep, vals):
                    t = int(t)
                    if start is None:
                        start, last, n, sv = t, t, 1, float(v)
                    elif t < last:
                        # cross-batch LATE event: absorbed conservatively
                        # into the open session (never moves `last`
                        # backwards — end<start corruption otherwise);
                        # strict late-data semantics need event-time
                        # watermarking upstream
                        start, n, sv = min(start, t), n + 1, sv + float(v)
                    elif t // 1_000_000_000 - last // 1_000_000_000 > gap_s:
                        closed.append((uid, start, last, n, sv))
                        start, last, n, sv = t, t, 1, float(v)
                    else:
                        last, n, sv = t, n + 1, sv + float(v)
                state.update((start, last, n, sv))
                if idle_timeout_ms is not None:
                    state.setTimeoutDuration(idle_timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime(
                        [c[1] for c in closed], unit="ns"
                    ),
                    "session_end": pd.to_datetime(
                        [c[2] for c in closed], unit="ns"
                    ),
                    "n_events": [c[3] for c in closed],
                    "sum_value": [round(c[4], 2) for c in closed],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", timeout
        )
    )


def streaming_sessionize_event_time(
    stream: DataFrame, gap_minutes: int = 30, watermark_minutes: float = 10.0
):
    """Event-time sessionization: ``withWatermark(ts)`` + EventTimeTimeout.

    REQUIRES watermark_minutes <= gap_minutes (validated): with a longer
    watermark delay, an accepted-but-late event (older than an already
    gap-CLOSED session's end) would be absorbed into the newer open
    session, producing boundaries batch sessionize over the same filtered
    input would never emit — the equality contract below breaks. With
    delay <= gap, any accepted event is newer than (last - gap) of the
    open session, so the absorb rule can only touch the still-open
    session batch sessionize would extend too.

    Differences from ``streaming_sessionize`` (the processing-time base
    variant), both deliberate:

    - STRICT late-data semantics: an event older than the current
      event-time watermark is DROPPED (the base variant absorbs it
      conservatively into the open session). The drop happens in the
      kernel against ``state.getCurrentWatermarkMs()`` — explicit and
      engine-version-independent, rather than relying on the planner's
      late-row filtering for arbitrary stateful ops.
    - sessions FINALIZE ONLY via the watermark (Spark session-window merge
      semantics): a gap split does NOT emit the closed session — it stays
      buffered in state until the watermark passes its ``end + gap``,
      because a late-but-accepted event can still land between the closed
      session and the open one and BRIDGE them (gap=delay=30 min, events
      t=1000 s, 3000 s, then late t=2500 s must yield ONE session
      [1000, 3000], exactly as batch sessionize over the accepted input
      does). Emission happens when no accepted event can ever extend a
      session again: ``watermark_s > last_s + gap_s``, checked both on
      event-time timeout and opportunistically on each data batch. So over
      a drained stream the emitted set equals batch ``events.sessionize``
      over the watermark-filtered input, RESTRICTED to sessions whose
      ``end + gap`` the final watermark passed — the base variant instead
      holds every user's trailing session open forever (bounded state, but
      never final).

    State holds the user's not-yet-final sessions as parallel arrays. This
    stays bounded: a pending session has ``last_s + gap_s >= wm_s`` and
    ``last <= wm + delay`` (the global watermark lags the max event time by
    exactly the delay), so all pending lasts live in a window of
    ``gap + delay <= 2*gap`` seconds, and sessions are separated by more
    than ``gap`` — at most ~3 pending sessions per user at any time, for
    any event volume. Idle users' state is removed at timeout, so state
    size tracks concurrently-active users, not all users ever seen. That is
    the correct 10^12-event retention story — wall-clock idle_timeout_ms
    approximates it only when processing time tracks event time (not true
    for backfills).

    CHECKPOINT COMPATIBILITY: the state schema changed from scalar
    (start, last, n, sv) to the parallel-array form below. Spark's state
    store does not migrate applyInPandasWithState schemas — a stream
    restarted from a checkpoint written by the scalar-state version fails
    (or misreads state). Restart upgraded streams from a FRESH checkpoint
    directory; in-flight sessions older than the watermark re-emerge from
    a source replay."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if watermark_minutes > gap_minutes:
        raise ValueError(
            f"watermark_minutes ({watermark_minutes}) must be <= "
            f"gap_minutes ({gap_minutes}): a longer late-data allowance "
            "than the session gap lets accepted late events reopen "
            "boundaries that batch sessionize would close differently"
        )
    gap_ms = gap_minutes * 60 * 1000
    gap_s = gap_ms // 1000
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    # parallel arrays: the user's pending (not-yet-final) sessions, sorted
    # by start; bounded at ~3 entries (see docstring)
    state_schema = (
        "starts array<long>, lasts array<long>, ns array<long>, "
        "svs array<double>"
    )

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        closed: list[tuple] = []
        if state.exists:
            starts, lasts, ns, svs = state.get
            sessions = [
                [int(a), int(b), int(c), float(d)]
                for a, b, c, d in zip(starts, lasts, ns, svs)
            ]
        else:
            sessions = []
        wm_ms = state.getCurrentWatermarkMs()
        wm_s = wm_ms // 1000
        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs), ignore_index=True)
            if not batch.empty:
                batch = batch.sort_values("ts", kind="stable")
                ep = batch["ts"].astype("int64").to_numpy()  # ns
                vals = batch["value"].to_numpy()
                for t, v in zip(ep, vals):
                    t = int(t)
                    if t // 1_000_000 < wm_ms:
                        continue  # beyond-watermark late event: dropped
                    # second-truncated gap rule matches batch sessionize's
                    # unix_timestamp semantics: t joins session S iff
                    # S.start_s - gap_s <= t_s <= S.last_s + gap_s. A late
                    # event can satisfy this for TWO adjacent sessions —
                    # then it bridges them into one (merge).
                    t_s = t // 1_000_000_000
                    join = [
                        i for i, s in enumerate(sessions)
                        if s[0] // 1_000_000_000 - gap_s <= t_s
                        <= s[1] // 1_000_000_000 + gap_s
                    ]
                    if not join:
                        sessions.append([t, t, 1, float(v)])
                        sessions.sort(key=lambda s: s[0])
                    else:
                        merged = [
                            min([sessions[i][0] for i in join] + [t]),
                            max([sessions[i][1] for i in join] + [t]),
                            sum(sessions[i][2] for i in join) + 1,
                            sum(sessions[i][3] for i in join) + float(v),
                        ]
                        sessions = [
                            s for i, s in enumerate(sessions)
                            if i not in join
                        ]
                        sessions.append(merged)
                        sessions.sort(key=lambda s: s[0])
        # finalize (both branches): a session is final once NO accepted
        # event can extend it — accepted means t_ms >= wm_ms hence
        # t_s >= wm_s, extension needs t_s <= last_s + gap_s, so final iff
        # wm_s > last_s + gap_s. (Left-attachment needs t_s >= start_s -
        # gap_s <= last_s + gap_s, excluded by the same bound; and two
        # pending sessions are > gap apart, so no future event can bridge
        # a final one to a pending one.)
        still = []
        for s in sessions:
            if wm_s > s[1] // 1_000_000_000 + gap_s:
                closed.append((uid, s[0], s[1], s[2], s[3]))
            else:
                still.append(s)
        if still:
            state.update((
                [s[0] for s in still], [s[1] for s in still],
                [s[2] for s in still], [s[3] for s in still],
            ))
            # arm at the first instant the EARLIEST pending session becomes
            # final: watermark past (last_s + gap_s + 1) seconds —
            # ms-precision arming (last_ms + gap_ms) would finalize up to
            # 1 s early and break batch equivalence for sub-second
            # timestamps. Must also be strictly above the current watermark
            # or Spark rejects it.
            fire_ms = (
                min(s[1] for s in still) // 1_000_000_000 + gap_s + 1
            ) * 1000
            state.setTimeoutTimestamp(max(fire_ms, wm_ms + 1))
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime(
                        [c[1] for c in closed], unit="ns"
                    ),
                    "session_end": pd.to_datetime(
                        [c[2] for c in closed], unit="ns"
                    ),
                    "n_events": [c[3] for c in closed],
                    "sum_value": [round(c[4], 2) for c in closed],
                }
            )

    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.select("user_id", "ts", "value")
        .withWatermark("ts", f"{int(watermark_minutes * 60)} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge ALL lineage groups (base ``0..G-1`` + streamed ``stream_*``)
    into one ``compacted`` group — the segment-merge every
    streaming-appended index eventually needs (Lucene's merge policy; the
    reference's one-artifact-per-build mission makes merge implicit, we
    make it an operator). Without it a long-lived stream accumulates one
    group per micro-batch: per-query file listing, parquet footers and
    block fragmentation all grow linearly with uptime.

    ZERO retokenization, corpus never re-read: a block's binary payload
    (first-absolute + positive-gaps varbyte) is byte-compatible with a
    stage-2 merge RUN (codecs.segment_delta_gaps of a single segment), so
    compaction is read blocks (all groups) → project to RUN_SCHEMA → the
    SAME merge plan the build uses (build.merge_runs) → one group. Scales
    like the build's stage 2 alone: one compact shuffle of compressed
    runs, ~3 B/posting.

    It is also the one posting-layout migration: the projection reads
    only the doc-id, tf and position streams, which every layout stores
    the same way, and the output (postings and shard-partitioned
    doc_stats) is written in layout 3 whatever the input's layout.

    Audits before swap: merged posting count must equal the sum over input
    groups (the merge kernel additionally raises on any cross-group
    duplicate doc_id). Swap protocol: stage under ``compact_staging/``
    (OUTSIDE postings/ so concurrent directory-scans never see doubled
    postings), set manifest status COMPACTING, swap dirs, re-finalize
    term_stats from the new blocks, set COMPLETED. A crash mid-swap leaves
    status COMPACTING and Index() refuses to open — loud and recoverable
    (staging + doc_stats are still on disk), never silently wrong. Takes
    the build lock, so builds/appends/compactions exclude each other;
    warm Index handles must .refresh() afterwards (same contract as
    finalize_stream)."""
    from .build import merge_runs
    from .jobs import STATUS_COMPLETED, _acquire_build_lock

    # peek only for the lock label; the authoritative read + status check
    # happen INSIDE the locked region — a mutator completing between an
    # unlocked read and the lock acquisition would otherwise have its
    # manifest updates clobbered by our stale copy at swap time (and the
    # COMPLETED check would be stale), same discipline as the dedup/ANN
    # compactors' artifact_lock.
    peek = read_manifest(index_dir)
    if peek is None:
        raise FileNotFoundError(f"no manifest at {index_dir}")
    lock = _acquire_build_lock(index_dir, f"compact:{peek['job_id'][:52]}")
    t0 = time.time()
    try:
        m = read_manifest(index_dir)
        if m is None:
            raise FileNotFoundError(f"no manifest at {index_dir}")
        if m["status"] != STATUS_COMPLETED:
            raise ValueError(
                f"index at {index_dir} is {m['status']}, not COMPLETED; "
                "repair/rebuild before compacting"
            )
        params, stats = _stats_from_manifest(m)
        from .jobs import TOMBSTONES_DIR, group_seq_expr

        pdir = os.path.join(index_dir, "postings")
        sdir = os.path.join(index_dir, "compact_staging")
        shutil.rmtree(sdir, ignore_errors=True)
        blocks = spark.read.parquet(pdir)
        groups_before = sorted(m["completed_groups"])
        n_before = blocks.groupBy().sum("n_docs").first()[0] or 0

        # ---- tombstone purge (the delete-reclaim half of the Lucene
        # segment-merge model): dead postings are dropped during the
        # re-block, doc_stats drops the dead rows, and the corpus stats
        # (n_docs, avgdl) are RECOMPUTED over the survivors so idf/tf_norm
        # reflect the alive corpus. No tombstones -> the same postings and
        # doc_stats rows (the original contract, still pinned by tests).
        tdir_tomb = os.path.join(index_dir, TOMBSTONES_DIR)
        n_deleted = int((m.get("metrics") or {}).get("n_deleted", 0))
        tomb = None
        n_tomb_ids = 0
        dsdir = os.path.join(index_dir, "doc_stats")
        ds_all = spark.read.parquet(dsdir)
        # layout 3 trees carry the shard_id directory level, older ones not
        ds = ds_all.drop("group", "shard_id")
        if n_deleted and os.path.exists(tdir_tomb):
            from .jobs import live_doc_stats_df, tombstone_pair

            # per-group deadness: a tombstone (id, s) kills copies only in
            # groups with seq <= s, so a doc re-ingested after its delete
            # keeps exactly its newest copy through the purge
            tomb = tombstone_pair(index_dir)
            n_tomb_ids = len(tomb[0])
            ds = live_doc_stats_df(
                spark, index_dir, m, ds_all, tomb
            ).drop("group", "shard_id")
            row = ds.agg(
                F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
            ).first()
            if not row.n:
                raise ValueError(
                    "compaction would delete every document; refusing "
                    "(drop the index directory instead)"
                )
            new_n_docs, new_avgdl = int(row.n), float(row.avgdl)
        runs = blocks.select(
            "term", "shard_id", "n_docs",
            F.col("docs_vbyte").alias("docs_vb"),
            F.col("tfs_vbyte").alias("tfs_vb"),
            *([F.col("pos_vbyte").alias("pos_vb")]
              if params.store_positions else []),
            group_seq_expr(m).alias("gseq")
            if tomb is not None else F.lit(0).alias("gseq"),
        )
        new_blocks = merge_runs(
            runs, params, max(params.num_shards, 8), tombstones=tomb
        )
        # compaction rewrites the WHOLE postings and doc_stats trees, so
        # it always writes (and the manifest below records) the current
        # layout — an older index upgrades to layout 3 here
        write_group_blocks(
            new_blocks, os.path.join(sdir, "postings", "group=compacted")
        )
        staged = spark.read.parquet(os.path.join(sdir, "postings"))
        n_after = staged.groupBy().sum("n_docs").first()[0] or 0
        if tomb is None:
            if n_after != n_before:
                raise ValueError(
                    f"compaction dropped postings: {n_before} before, "
                    f"{n_after} after — staging kept at {sdir} for inspection"
                )
        else:
            # purge direction audit here; the exact count closes below
            # against doc_stats (postings of dead docs are unknowable
            # without decoding, which the merge kernel just did)
            if n_after > n_before:
                raise ValueError(
                    f"purge compaction GREW postings: {n_before} -> "
                    f"{n_after} — staging kept at {sdir}"
                )
        # doc_stats: collapse the per-group layout into one group too
        # (already tombstone-filtered when purging)
        write_doc_stats(
            ds, os.path.join(sdir, "doc_stats", "group=compacted"),
            stats.shard_shift,
        )
        if tomb is not None:
            # purge audit BEFORE the destructive swap: the staged doc_stats
            # must hold exactly the alive corpus — a mismatch aborts while
            # the original artifact is still intact
            staged_docs = spark.read.parquet(
                os.path.join(sdir, "doc_stats")
            ).count()
            if staged_docs != new_n_docs:
                raise ValueError(
                    f"purge audit failed pre-swap: staged doc_stats has "
                    f"{staged_docs} rows, expected {new_n_docs} — staging "
                    f"kept at {sdir}"
                )

        # ---- swap (manifest guards the non-atomic window) ----------------
        m["status"] = "COMPACTING"
        _write_manifest(index_dir, m)
        for name in ("postings", "doc_stats"):
            old = os.path.join(index_dir, name)
            shutil.rmtree(old)
            os.rename(os.path.join(sdir, name), old)
        shutil.rmtree(sdir, ignore_errors=True)

        m["build"]["n_terms"] = write_term_stats(
            spark.read.parquet(pdir), index_dir
        )
        if tomb is not None:
            # frozen corpus stats roll forward to the alive corpus (the
            # row-count audit ran pre-swap); tombstones cleared below
            m["build"]["n_docs"] = new_n_docs
            m["build"]["avgdl"] = new_avgdl
            m["metrics"]["n_deleted"] = 0
            m["metrics"]["purged_docs"] = n_tomb_ids
            shutil.rmtree(tdir_tomb, ignore_errors=True)
        new_seq = int(m.get("seq_counter", 0)) + 1
        m["seq_counter"] = new_seq
        m["completed_groups"] = {
            "compacted": {
                "wall_s": round(time.time() - t0, 3),
                "postings_path": os.path.join(
                    index_dir, "postings", "group=compacted"
                ),
                "doc_stats_path": os.path.join(
                    index_dir, "doc_stats", "group=compacted"
                ),
                "compacted_from": groups_before,
                "seq": new_seq,
            }
        }
        m.setdefault("metrics", {})["compaction"] = {
            "groups_merged": len(groups_before),
            "postings": int(n_after),
            "wall_s": round(time.time() - t0, 3),
        }
        m["build"]["posting_layout"] = POSTING_LAYOUT
        m["status"] = STATUS_COMPLETED
        _write_manifest(index_dir, m)
        return m
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
