"""Job lifecycle: idempotent builds, durable manifests, per-partition lineage.

Transposes the reference's control plane (SURVEY.md §2.7):
- job id = SHA-256 of the request projection (reference: app/utils/hash.py:12-28
  over RequestParameters; ours over build params + source fingerprint)
- idempotent short-circuit on completed jobs (job_service.py:60-83,176-183)
- job store (app/storage/memory.py:22-169 — volatile, TTL'd) becomes a
  DURABLE manifest.json with per-lineage-group records, strictly stronger:
  a killed build resumes by skipping completed groups.
- status/jobs readers (app/routes/status.py, get_jobs.py) become
  ``read_manifest`` + the CLI in sparkbm25.cli.

Concurrency: same-host duplicate submissions are excluded by the flock
lockfile (_acquire_build_lock); drivers on DIFFERENT hosts sharing an
index_dir arbitrate through the manifest-CAS claim: a unique submit token
published through the SnapshotCatalog (sparkbm25.catalog), then every
token-guarded manifest write is a genuine compare-and-swap
(``publish(expected_token=...)``) — a competitor claiming at ANY point
makes the earlier driver's next publish raise ConcurrentBuildError
atomically, never reinstating the stale token. Group output is staged
per-token and published by rename; exactly one driver completes, the
loser removes its staging. The default FlockCasCatalog is linearizable
wherever flock(2) works; stores without lock primitives select the
RenameCatalog, which keeps the settle-window approximation, or an
external catalog commit (Iceberg) through the same protocol.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import CasConflict, get_catalog
from .localrel import local_df

from .build import (
    BuildParams,
    CorpusStats,
    StageTimer,
    build_postings,
    compute_corpus_stats,
    params_dict,
    term_stats_from_blocks,
    write_group_blocks,
)

MANIFEST = "manifest.json"

STATUS_RUNNING = "RUNNING"
STATUS_COMPLETED = "COMPLETED"
STATUS_FAILED = "FAILED"


def job_id(params: BuildParams, source_fingerprint: str) -> str:
    """SHA-256 of the canonical request (analog app/utils/hash.py:12-28)."""
    payload = json.dumps(
        {"params": sorted(params.__dict__.items()), "source": source_fingerprint},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def read_manifest(index_dir: str) -> dict | None:
    p = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_manifest(index_dir: str, m: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2, default=str)
    os.replace(tmp, os.path.join(index_dir, MANIFEST))  # atomic publish


class InjectedFailure(RuntimeError):
    """Raised by tests to simulate a mid-build crash (resumability tests,
    SURVEY.md §5 item the reference lacks)."""


class ConcurrentBuildError(RuntimeError):
    """A second submitter raced a RUNNING build of the same index_dir —
    the analog of the reference's 429 from its job store
    (app/services/job_service.py:60-83, app/routes/build.py:41-72)."""


_CAS_SETTLE_S = float(os.environ.get("SPARKBM25_CAS_SETTLE_MS", "50")) / 1000.0


def _verify_claim(index_dir: str, token: str) -> None:
    """Cross-driver manifest CAS check: the manifest's submit_token must
    still be OURS. A different token means another driver (possibly on
    another host — the flock lock cannot see it) re-claimed this index_dir;
    the caller must abort without publishing anything."""
    cur = read_manifest(index_dir)
    if cur is None or cur.get("submit_token") != token:
        claim = (cur or {}).get("claim") or {}
        raise ConcurrentBuildError(
            f"lost the build claim on {index_dir} to "
            f"{claim.get('host', '?')}:{claim.get('pid', '?')} — another "
            "driver re-claimed this index_dir (manifest CAS); its build "
            "supersedes this one"
        )


def _cas_publish(index_dir: str, m: dict, token: str) -> None:
    """Token-guarded manifest publish through the SnapshotCatalog: writes
    ONLY if the current submit_token is still ours, atomically (no
    verify-then-write gap with the flock catalog). A foreign token means
    a later claimant superseded us → ConcurrentBuildError, and the
    competitor's manifest is left untouched."""
    try:
        get_catalog().publish(index_dir, m, expected_token=token)
    except CasConflict:
        cur = read_manifest(index_dir)
        claim = (cur or {}).get("claim") or {}
        raise ConcurrentBuildError(
            f"lost the build claim on {index_dir} to "
            f"{claim.get('host', '?')}:{claim.get('pid', '?')} — another "
            "driver re-claimed this index_dir (manifest CAS); its build "
            "supersedes this one"
        ) from None


def _write_failed_if_claimed(index_dir: str, m: dict, token: str) -> None:
    """Record a FAILED manifest ONLY while the claim is still ours: a
    driver that lost the claim and then hit an unrelated error (e.g. its
    staging racing the winner) must not clobber the new claim-holder's
    token and group bookkeeping with its stale copy. Atomic via the
    catalog CAS — the r04 verify-then-write race is closed."""
    try:
        get_catalog().publish(index_dir, m, expected_token=token)
    except CasConflict:
        pass


LOCKFILE = ".build.lock"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OverflowError):
        return True
    return True


def _acquire_build_lock(index_dir: str, jid: str) -> str:
    """Lockfile under index_dir, acquired ATOMICALLY WITH ITS CONTENT: the
    payload is written to a temp file and hard-linked into place (link(2)
    fails if the name exists), so a competitor can never observe an empty
    lock and misread it as stale. Raises ConcurrentBuildError naming the
    holder while it is alive; a lock left by a dead pid is stolen
    (kill-resume support).

    The examine-and-steal step runs under an flock(2) on a persistent
    sidecar guard file, which removes the whole observe/steal interleaving
    class: no contender can unlink a lock it has not just re-read as dead
    INSIDE the critical section, and fresh locks only appear via the
    atomic link(2) outside it — a racer that loses the link re-enters the
    guard and re-reads the now-alive holder. flock conflicts between
    separate opens even within one process, so sibling THREADS of a
    driver's submit pool are serialized too (a prior rename-based design
    could destroy a sibling thread's fresh lock: same pid, blind rename).
    The guard file is never unlinked — deleting it while held would let a
    late opener lock a fresh inode and bypass the guard. The kernel drops
    the flock if the holder dies mid-section. Single-host semantics — a
    multi-driver cluster deployment should use the store's conditional-put
    for the same CAS. Caveat (unchanged from every prior design): a stale
    lock whose dead pid got RECYCLED into a live process reads as held.
    """
    import fcntl
    import threading

    os.makedirs(index_dir, exist_ok=True)
    path = os.path.join(index_dir, LOCKFILE)
    # scratch unique per pid AND thread: a shared name would let thread
    # A's cleanup unlink thread B's not-yet-linked payload
    uniq = f"{os.getpid()}.{threading.get_ident()}"
    tmp = f"{path}.{uniq}.tmp"
    with open(tmp, "w") as f:
        json.dump({"pid": os.getpid(), "job_id": jid}, f)
    try:
        while True:
            try:
                os.link(tmp, path)
                return path
            except FileExistsError:
                pass
            with open(f"{path}.guard", "a") as guard:
                fcntl.flock(guard, fcntl.LOCK_EX)
                try:
                    try:
                        with open(path) as f:
                            holder = json.load(f)
                    except FileNotFoundError:
                        continue  # freed while we waited; retry the link
                    except (OSError, json.JSONDecodeError):
                        holder = {}
                    pid = holder.get("pid")
                    if pid is not None and _pid_alive(int(pid)):
                        raise ConcurrentBuildError(
                            f"index_dir {index_dir} is being built by pid "
                            f"{pid} (job "
                            f"{str(holder.get('job_id', ''))[:12]}…); "
                            "retry after it finishes"
                        ) from None
                    # dead (or unreadable) holder: safe to remove INSIDE
                    # the guard — no other contender can be between its
                    # own dead-read and unlink, and any fresh lock linked
                    # since our read would have a live pid and be caught
                    # by the re-read above
                    try:
                        os.unlink(path)
                    except FileNotFoundError:
                        pass
                finally:
                    fcntl.flock(guard, fcntl.LOCK_UN)
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def artifact_lock(index_dir: str, tag: str):
    """Context-manager form of the build lock, shared by every artifact
    MUTATOR in the repo (BM25 build/compact, IVF build/append/compact,
    dedup-index build/append): concurrent mutations of one artifact dir
    exclude each other with the same liveness/steal semantics as builds.
    Readers stay lock-free by design — each mutator stages + swaps so a
    reader never observes a half-written store."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        lock = _acquire_build_lock(index_dir, tag)
        try:
            yield
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    return _cm()


TOMBSTONES_DIR = "tombstones"
# driver-side tombstone threshold for SEARCH masking: small delete sets
# ride into kernels as sorted (id, del_seq) closure arrays (16 B/id via
# Arrow — the p50-friendly path); past the threshold search switches to
# the fully distributed side-direct path (tombstones grouped by the
# doc-range shard key, exactly like `where=` qualifying ids) — no driver
# array, no cap, no refusal.
TOMBSTONE_BROADCAST_MAX = int(
    os.environ.get("SPARKBM25_TOMBSTONE_BROADCAST_MAX", "1000000")
)
# legacy (pre-0.6) tombstone rows carry no del_seq: they mask the id in
# EVERY group, old behavior preserved (the undelete flow they relied on is
# superseded by per-group seqs)
LEGACY_DEL_SEQ = 1 << 62

TOMBSTONE_SCHEMA = "doc_id long, del_seq long"


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, del_seq) rows — del_seq is the per-id MAX delete sequence
    (one row per id). Legacy files without the column read as null and
    coalesce to LEGACY_DEL_SEQ (mask everywhere)."""
    tdir = os.path.join(index_dir, TOMBSTONES_DIR)
    return (
        spark.read.schema(TOMBSTONE_SCHEMA).parquet(tdir)
        .withColumn(
            "del_seq", F.coalesce("del_seq", F.lit(LEGACY_DEL_SEQ))
        )
        .groupBy("doc_id")
        .agg(F.max("del_seq").alias("del_seq"))
    )


def group_seq_expr(m: dict) -> F.Column:
    """Column mapping the ``group`` partition column to its creation seq
    (manifest ``completed_groups[g]["seq"]``; pre-0.6 groups default 0).
    Literal map — group counts are manifest-bounded (compaction collapses
    them), so this stays a small codegen'd expression."""
    pairs: list = []
    for g, rec in (m.get("completed_groups") or {}).items():
        pairs += [F.lit(str(g)), F.lit(int(rec.get("seq", 0)))]
    if not pairs:
        return F.lit(0)
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("group").cast("string")),
        F.lit(0),
    )


def live_doc_stats_df(
    spark: SparkSession, index_dir: str, m: dict, ds: DataFrame | None = None
) -> DataFrame:
    """doc_stats restricted to LIVE rows under per-group tombstones: row
    (doc_id, group) is dead iff a tombstone (doc_id, s) has s >= seq(group).
    A re-ingested doc keeps exactly its newest copy. Plain equi-join on
    doc_id — distributed, no driver materialization."""
    if ds is None:
        ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    n_del = int((m.get("metrics") or {}).get("n_deleted", 0))
    if not n_del or not os.path.exists(
        os.path.join(index_dir, TOMBSTONES_DIR)
    ):
        return ds
    tomb = read_tombstones(spark, index_dir)
    return (
        ds.join(tomb, "doc_id", "left")
        .filter(
            F.col("del_seq").isNull() | (F.col("del_seq") < group_seq_expr(m))
        )
        .drop("del_seq")
    )


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> dict:
    """Logical document deletes (Lucene PER-SEGMENT tombstone model): the
    ids append to ``tombstones/`` stamped with the artifact's next
    sequence number, and the delete applies ONLY to lineage groups that
    existed at delete time (seq(group) <= del_seq). Every subsequent
    search excludes the dead copies (scores keep the FROZEN corpus stats —
    idf/avgdl change only when a compaction physically purges postings,
    exactly like a segment store before/after merge); a doc re-ingested
    AFTER its delete lands in a NEW group with a higher seq and is live
    immediately, while its old postings stay masked until the purge.
    Deleting an absent id is a no-op by masking. ``doc_ids``: an int
    iterable or a DataFrame with doc_id.

    Returns the updated manifest (metrics.n_deleted = distinct tombstoned
    ids on disk; superseded ids stay counted until compaction clears them)."""
    with artifact_lock(index_dir, "delete"):
        m = read_manifest(index_dir)
        if m is None:
            raise FileNotFoundError(f"no manifest at {index_dir}")
        if m["status"] != STATUS_COMPLETED:
            raise ValueError(
                f"index at {index_dir} is {m['status']}, not COMPLETED"
            )
        del_seq = int(m.get("seq_counter", 0)) + 1
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").try_cast("long"))
            n_null = df.filter(F.col("doc_id").isNull()).count()
            if n_null:
                raise ValueError(
                    f"{n_null} doc_ids are null or non-numeric — a null "
                    "tombstone would crash every later search; clean the "
                    "input first"
                )
        else:
            df = local_df(
                spark, [(int(d),) for d in doc_ids], "doc_id long"
            )
        df = df.withColumn("del_seq", F.lit(del_seq))
        tdir = os.path.join(index_dir, TOMBSTONES_DIR)
        df.write.mode("append").parquet(tdir)
        n = spark.read.parquet(tdir).select("doc_id").distinct().count()
        m.setdefault("metrics", {})["n_deleted"] = int(n)
        m["seq_counter"] = del_seq
        _write_manifest(index_dir, m)
        return m


def build_index(
    corpus: DataFrame,
    index_dir: str,
    params: BuildParams | None = None,
    source_fingerprint: str = "",
    fail_after_group: int | None = None,
    stats_override: "CorpusStats | None" = None,
) -> dict:
    """Build (or resume) the index for `corpus` (doc_id, text) at index_dir.

    Returns the final manifest. Orchestration mirrors core/tasks.py:80-211:
    stats → per-group build → finalize, with per-stage timings recorded.
    Concurrent submits to one index_dir are arbitrated by an O_EXCL
    lockfile: exactly one build runs; the loser gets ConcurrentBuildError
    (the reference's 429 analog). A COMPLETED artifact short-circuits
    without touching the lock."""
    params = params or BuildParams()
    params.validate()
    jid = job_id(params, source_fingerprint)
    m0 = read_manifest(index_dir)
    if m0 is not None and m0["job_id"] == jid and m0["status"] == STATUS_COMPLETED:
        return m0  # idempotent short-circuit (job_service.py:176-183)
    lock = _acquire_build_lock(index_dir, jid)
    try:
        return _build_index_locked(
            corpus, index_dir, params, jid, source_fingerprint,
            fail_after_group, stats_override,
        )
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _build_index_locked(
    corpus: DataFrame,
    index_dir: str,
    params: BuildParams,
    jid: str,
    source_fingerprint: str,
    fail_after_group: int | None,
    stats_override: "CorpusStats | None",
) -> dict:
    timer = StageTimer()

    m = read_manifest(index_dir)
    if m is not None:
        if m["job_id"] != jid:
            raise ValueError(
                f"index_dir holds job {m['job_id'][:12]}…, request is {jid[:12]}… "
                "(different params/source); refusing to mix artifacts"
            )
        if m["status"] == STATUS_COMPLETED:
            return m  # idempotent short-circuit (job_service.py:176-183)
    else:
        m = {
            "job_id": jid,
            "status": STATUS_RUNNING,
            "source_fingerprint": source_fingerprint,
            "completed_groups": {},
            "metrics": {},
            "error_message": None,
            "seq_counter": 0,
        }

    # --- cross-driver claim (manifest CAS) --------------------------------
    # The flock lockfile is single-host; two drivers on DIFFERENT hosts
    # sharing index_dir arbitrate through the SnapshotCatalog instead:
    # publish a unique submit token ("latest claim supersedes" — the claim
    # itself is an unconditional publish), then every later token-guarded
    # manifest write is an atomic CAS on that token — takeover by a later
    # driver (e.g. resuming what it judged a dead build) makes the earlier
    # one abort at its next publish boundary and clean its staging
    # (reference 429 analog across hosts, job_service.py:60-83). With a
    # non-atomic catalog (RenameCatalog) a settle-window re-read
    # approximates the claim race; the atomic flock catalog needs none.
    import socket
    import uuid

    cat = get_catalog()
    token = uuid.uuid4().hex
    m["submit_token"] = token
    m["status"] = STATUS_RUNNING  # resumed FAILED builds are running again
    m["claim"] = {
        "host": socket.gethostname(), "pid": os.getpid(), "ts": time.time(),
        # record WHICH catalog arbitrated this build (r05 verdict #8):
        # an operator reading the manifest can tell whether the publish
        # path was a true CAS or the rename fallback's settle window
        "catalog": type(cat).__name__, "catalog_atomic": cat.atomic,
    }
    cat.publish(index_dir, m)
    if not cat.atomic:
        time.sleep(_CAS_SETTLE_S)
    _verify_claim(index_dir, token)
    staging_root = os.path.join(index_dir, "build_staging")
    # our staging is keyed by the fresh token; other entries are left
    # alone here — a LIVE competitor may still be writing under its own
    # token, and deleting its dirs would kill it with a raw Spark write
    # error instead of the orderly ConcurrentBuildError at its publish
    # gate. Dead builds' staging is reaped at successful completion.
    staging = os.path.join(staging_root, token)
    shutil.rmtree(staging, ignore_errors=True)

    # --- stats stage (fixed once per job; resumed runs must reuse) --------
    # stats_override: corpus statistics computed elsewhere (e.g. over the
    # base+future-stream universe for segment-append setups, or reused from
    # a pinned snapshot); frozen into the manifest exactly like computed ones
    if "build" not in m:
        with timer.time("stats"):
            stats = stats_override or compute_corpus_stats(corpus, params)
        m["build"] = params_dict(params, stats)
        _cas_publish(index_dir, m, token)
    else:
        b = m["build"]
        if "shard_shift" not in b:
            raise ValueError(
                "manifest predates the shard_shift layout (engine < 0.2); "
                "rebuild the index with the current engine"
            )
        stats = CorpusStats(
            n_docs=b["n_docs"], avgdl=b["avgdl"], min_doc=b["min_doc"],
            max_doc=b["max_doc"], shard_shift=b["shard_shift"],
            total_tokens=b.get("total_tokens", 0),
            extras=b.get("extras", {}),
        )

    # admission gate (the reference's 507-capacity check at submit,
    # app/services/job_service.py:141-149): refuse a plan whose largest
    # merge task cannot fit executor memory — resize num_shards instead
    from .planner import BuildEstimate, admission_check

    # audited per-shard max (count-quantile sharding, provided scheme)
    # beats the even-split assumption when available
    max_shard_docs = stats.extras.get(
        "max_shard_docs", stats.n_docs // params.num_shards + 1
    )
    est = BuildEstimate(
        total_postings=0, runs_shuffle_bytes=0, index_bytes=0,
        max_merge_task_postings=max_shard_docs,
        max_merge_task_bytes=int(max_shard_docs * 16 * 1.2),
        suggested_num_shards=params.num_shards,
        suggested_salt_factor=params.salt_factor,
        suggested_shuffle_partitions=params.num_shards * params.salt_factor,
    )
    ok, msg = admission_check(est)
    if not ok:
        m["status"] = STATUS_FAILED
        m["error_message"] = f"admission refused: {msg}"
        _write_failed_if_claimed(index_dir, m, token)
        raise MemoryError(m["error_message"])

    # arithmetic shift: overflow-free over the full signed-int64 id range
    # and identical to the kernel's numpy `>>` (ANSI-safe — a plain
    # `doc_id - min_doc` overflows for the hash64 scheme)
    shard = F.shiftright(F.col("doc_id"), stats.shard_shift)
    group_col = F.pmod(shard, F.lit(params.lineage_groups))

    try:
        for g in range(params.lineage_groups):
            if str(g) in m["completed_groups"]:
                continue
            gdir = os.path.join(index_dir, "postings", f"group={g}")
            ddir = os.path.join(index_dir, "doc_stats", f"group={g}")
            # stage under a token-keyed dir OUTSIDE postings/ (directory
            # scans must never see half a group), publish by rename: two
            # racing drivers can then never interleave files inside one
            # group dir — the loser's whole staging tree is discarded
            g_stage = os.path.join(staging, "postings", f"group={g}")
            d_stage = os.path.join(staging, "doc_stats", f"group={g}")
            t0 = time.time()
            sub = corpus.filter(group_col == g)
            with timer.time(f"group_{g}"):
                from .analysis import tokens_col

                (
                    sub.select(
                        "doc_id",
                        F.size(tokens_col("text")).alias("doc_len"),
                        *(["text"] if params.store_text else []),
                        *params.attr_cols,
                    ).write.mode("overwrite").parquet(d_stage)
                )
                r_stage = os.path.join(staging, "runs", f"group={g}")
                blocks = build_postings(sub, params, stats,
                                        spill_dir=r_stage)
                # resumed pre-0.8 builds keep their layout-1 tree: mixed
                # directory depths break Spark partition discovery (fresh
                # manifests record POSTING_LAYOUT via params_dict)
                write_group_blocks(
                    blocks, g_stage,
                    layout=int(m["build"].get("posting_layout", 1)),
                )
                shutil.rmtree(r_stage, ignore_errors=True)
            # publish gate: only the claim holder may move staged output
            # into the artifact and update the manifest
            _verify_claim(index_dir, token)
            for src, dst in ((g_stage, gdir), (d_stage, ddir)):
                if os.path.exists(dst):
                    shutil.rmtree(dst)  # partial from a crashed attempt
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
            m["completed_groups"][str(g)] = {
                "wall_s": round(time.time() - t0, 3),
                "postings_path": gdir,
                "doc_stats_path": ddir,
                # base groups share creation seq 0 (disjoint doc subsets);
                # later appends/deletes draw from seq_counter — the
                # per-group tombstone ordering (delete_docs docstring)
                "seq": 0,
            }
            _cas_publish(index_dir, m, token)
            if fail_after_group is not None and g >= fail_after_group:
                raise InjectedFailure(f"injected failure after group {g}")
        _verify_claim(index_dir, token)

        # --- finalize: global term stats from block metadata ---------------
        with timer.time("finalize"):
            spark = corpus.sparkSession
            blocks_all = spark.read.parquet(os.path.join(index_dir, "postings"))
            tdir = os.path.join(index_dir, "term_stats")
            term_stats_from_blocks(blocks_all).write.mode("overwrite").parquet(tdir)
            # vocabulary size drives Index.term_stats_lookup's preload-vs-
            # lazy decision (metadata-only count on the fresh parquet)
            m["build"]["n_terms"] = spark.read.parquet(tdir).count()
            # artifact size metrics (reference logs artifact size at upload,
            # tasks.py:341-381; compression ratio is the PQ-compression
            # analog, SURVEY §4)
            size_row = blocks_all.agg(
                F.sum("n_docs").alias("postings"),
                F.count("*").alias("blocks"),
                F.sum(
                    F.length("docs_vbyte")
                    + F.length("tfs_vbyte")
                    + F.length("dls_vbyte")
                    + F.coalesce(F.length("pos_vbyte"), F.lit(0))
                ).alias("payload_bytes"),
            ).first()
            m["metrics"]["total_postings"] = int(size_row.postings or 0)
            m["metrics"]["total_blocks"] = int(size_row.blocks or 0)
            m["metrics"]["payload_bytes"] = int(size_row.payload_bytes or 0)
            if size_row.postings:
                m["metrics"]["bytes_per_posting"] = round(
                    size_row.payload_bytes / size_row.postings, 3
                )
        m["status"] = STATUS_COMPLETED
    except ConcurrentBuildError:
        # we lost the claim: another driver owns the artifact now — clean
        # OUR partial staging and leave manifest + artifact strictly alone
        shutil.rmtree(staging, ignore_errors=True)
        try:
            os.rmdir(staging_root)  # remove the parent too if now empty
        except OSError:
            pass
        raise
    except InjectedFailure:
        m["status"] = STATUS_FAILED
        m["error_message"] = "injected failure (test)"
        m["metrics"].update(timer.stages)
        _write_failed_if_claimed(index_dir, m, token)
        raise
    except Exception as e:  # real failure: record and re-raise (tasks.py TaskResult)
        m["status"] = STATUS_FAILED
        m["error_message"] = f"{type(e).__name__}: {e}"
        m["metrics"].update(timer.stages)
        _write_failed_if_claimed(index_dir, m, token)
        raise

    m["metrics"].update(timer.stages)
    n_turns = stats.n_docs
    total_wall = sum(timer.stages.values())
    if total_wall > 0:
        m["metrics"]["build_throughput_docs_per_sec"] = round(n_turns / total_wall, 2)
    # last gate before publishing COMPLETED — atomic on the submit token
    _cas_publish(index_dir, m, token)
    # the whole staging root is ours to reap now: anything left under it is
    # a loser's or dead build's garbage by definition
    shutil.rmtree(staging_root, ignore_errors=True)
    return m


class Index:
    """Handle over a built index directory (the query engine's input)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.index_dir = index_dir
        self.manifest = read_manifest(index_dir)
        if self.manifest is None:
            raise FileNotFoundError(f"no manifest at {index_dir}")
        if self.manifest["status"] != STATUS_COMPLETED:
            raise ValueError(
                f"index at {index_dir} is {self.manifest['status']}, not COMPLETED"
            )
        self.spark = spark
        b = self.manifest["build"]
        self.n_docs: int = b["n_docs"]
        self.avgdl: float = b["avgdl"]
        self.k1: float = b["k1"]
        self.b: float = b["b"]
        self.num_term_buckets: int = b["num_term_buckets"]
        self.num_shards: int = b.get("num_shards", 8)  # BuildParams default
        self.shard_shift: int | None = b.get("shard_shift")
        self.block_size: int = b.get("block_size", 128)
        # physical postings layout generation (build.POSTING_LAYOUT):
        # >= 2 means shard-clustered files, which every search plan reads
        # (shard_file_map); pre-0.8 indexes report 1 and need compaction
        self.posting_layout: int = int(b.get("posting_layout", 1))
        self._bucket_files: dict[int, dict[int, list[tuple[int, str]]]] = {}
        self._dfs: dict[str, DataFrame] = {}
        self._stats_cache: dict[str, tuple[int, float] | None] = {}
        self._stats_preloaded = False

    def _load(self, name: str) -> DataFrame:
        # cache the DataFrame handle: file listing + schema inference happen
        # once per index, not once per query
        if name not in self._dfs:
            self._dfs[name] = self.spark.read.parquet(
                os.path.join(self.index_dir, name)
            )
        return self._dfs[name]

    # vocabulary sizes up to this preload whole (at ~24 B/entry this is
    # ~100 MB of driver heap); beyond it, per-term lazy caching bounds the
    # driver by query traffic instead of corpus vocabulary
    STATS_PRELOAD_MAX_TERMS = 4_000_000

    def term_stats_lookup(
        self, terms: list[str]
    ) -> dict[str, tuple[int, float]]:
        """Driver-side (df, max_tf_norm) for query terms, cached on the
        handle: the first call preloads the whole vocabulary when it is
        small enough, so WARM single-query searches launch zero extra Spark
        jobs (the reference's query path is one index.search call,
        search_indices.py:30-39). Terms absent from the index are cached as
        absent. The index artifact is immutable; after finalize_stream use
        refresh()/a new Index (streaming.py docs)."""
        if not self._stats_preloaded and not self._stats_cache:
            n_terms = self.manifest["build"].get("n_terms")
            if n_terms is None:  # pre-0.3 manifest: metadata-only count
                n_terms = self.term_stats().count()
                self.manifest["build"]["n_terms"] = n_terms
            if n_terms <= self.STATS_PRELOAD_MAX_TERMS:
                for r in self.term_stats().select(
                    "term", "df", "max_tf_norm"
                ).collect():
                    self._stats_cache[r.term] = (r.df, r.max_tf_norm)
                self._stats_preloaded = True
        missing = [t for t in terms if t not in self._stats_cache]
        if missing and not self._stats_preloaded:
            found = {
                r.term: (r.df, r.max_tf_norm)
                for r in self.term_stats()
                .filter(F.col("term").isin(missing))
                .collect()
            }
            # bound the lazy cache: a long-lived handle serving arbitrary
            # queries must not grow without limit (absent/garbage terms
            # especially) — evict wholesale past the cap, it's just a cache
            if len(self._stats_cache) + len(missing) > self.STATS_PRELOAD_MAX_TERMS:
                self._stats_cache.clear()
            for t in missing:
                self._stats_cache[t] = found.get(t)
        return {
            t: v
            for t in terms
            if (v := self._stats_cache.get(t)) is not None
        }

    def prefix_expand(
        self, stems: list[str], max_expansions: int | None = None
    ) -> dict[str, list[tuple[str, int, float]]]:
        """Vocabulary expansion for wildcard query tokens: stem ->
        [(term, df, max_tf_norm), ...] over every indexed term starting
        with the stem, returned in term-ASC order (the engine's
        deterministic fold order for a prefix's expansions).

        ``max_expansions`` caps each stem to its N highest-df terms
        (ties broken term-asc) — the 100 TB guard: a 1-character stem
        over a web-scale vocabulary expands to millions of terms, and
        the cap keeps both the posting scan and the per-query fold
        bounded. The (df DESC, term ASC) cap order is deterministic, so
        an oracle can replicate it exactly.

        When the whole vocabulary is preloaded on the handle (small
        indexes), expansion is a driver-side scan of the cache — zero
        Spark jobs; otherwise one term_stats scan serves all stems
        (term_stats is the metadata artifact: |vocab| rows, not corpus
        rows)."""
        return self._vocab_expand(
            stems,
            py_match=lambda t, s: t.startswith(s),
            plan_cond=lambda: F.col("term").startswith(F.col("stem")),
            max_expansions=max_expansions,
        )

    def fuzzy_expand(
        self, stems: list[str], max_dist: int = 1,
        max_expansions: int | None = None,
    ) -> dict[str, list[tuple[str, int, float]]]:
        """Vocabulary expansion for FUZZY query tokens: stem ->
        [(term, df, max_tf_norm), ...] over every indexed term within
        ``max_dist`` unit-cost edits (Levenshtein) of the stem — the
        stem itself included at distance 0 when indexed. Same cap
        contract and preloaded-cache / windowed-plan split as
        prefix_expand; the plan path prunes with the length-difference
        lower bound before F.levenshtein."""
        if not isinstance(max_dist, int) or max_dist < 0:
            raise ValueError(
                f"max_dist must be an int >= 0, got {max_dist!r}"
            )
        from .analysis import levenshtein_py

        return self._vocab_expand(
            stems,
            py_match=lambda t, s: (
                abs(len(t) - len(s)) <= max_dist
                and levenshtein_py(t, s) <= max_dist
            ),
            plan_cond=lambda: (
                (F.abs(F.length("term") - F.length("stem")) <= max_dist)
                & (F.levenshtein(F.col("term"), F.col("stem")) <= max_dist)
            ),
            max_expansions=max_expansions,
        )

    def _vocab_expand(
        self, stems: list[str], py_match, plan_cond,
        max_expansions: int | None,
    ) -> dict[str, list[tuple[str, int, float]]]:
        """Shared vocabulary-expansion body (prefix_expand /
        fuzzy_expand): the match predicate is the only difference, so
        cap order and the cache/plan routing cannot diverge."""
        if not stems:
            return {}
        # dedupe: a repeated stem must not double-append its matches
        # (callers pass occurrence lists; the dict result is per-stem)
        stems = sorted(set(stems))
        if not self._stats_preloaded:
            self.term_stats_lookup([])  # trigger the preload attempt
        out: dict[str, list[tuple[str, int, float]]] = {s: [] for s in stems}
        if self._stats_preloaded:
            for t, v in self._stats_cache.items():
                if v is None:
                    continue
                for s in stems:
                    if py_match(t, s):
                        out[s].append((t, v[0], v[1]))
        else:
            # big-vocabulary path: apply the per-stem cap IN the plan (a
            # window over the broadcast stem join) so the driver receives
            # at most stems × max_expansions rows, never the raw match set
            from pyspark.sql import Window

            # LocalRelation (Arrow path), not createDataFrame(local
            # rows): the latter costs a multi-task parallelize job per
            # query on this latency-sensitive path (r07: was VALUES SQL
            # — local_df gives the same LocalRelation without the string
            # build/parse)
            stem_df = local_df(
                self.spark, [(s,) for s in stems], "stem string"
            )
            j = (
                self.term_stats()
                .select("term", "df", "max_tf_norm")
                .join(F.broadcast(stem_df), plan_cond())
            )
            if max_expansions is not None:
                w = Window.partitionBy("stem").orderBy(
                    F.col("df").desc(), F.col("term").asc()
                )
                j = j.withColumn("rn", F.row_number().over(w)).filter(
                    F.col("rn") <= max_expansions
                )
            for r in j.collect():
                out[r.stem].append((r.term, r.df, r.max_tf_norm))
        for s, lst in out.items():
            if max_expansions is not None and len(lst) > max_expansions:
                lst.sort(key=lambda e: (-e[1], e[0]))
                del lst[max_expansions:]
            lst.sort(key=lambda e: e[0])
        return out

    def refresh(self) -> "Index":
        """Drop cached DataFrame handles and driver-side stats — REQUIRED
        after finalize_stream rewrites term_stats/ or appends postings
        groups (stale handles can otherwise miss new files or read deleted
        ones)."""
        self._dfs.clear()
        self._stats_cache.clear()
        self._stats_preloaded = False
        self._tombstones = None
        # direct-route file listing: appended groups add files, compaction
        # deletes them — a stale map would read the pre-refresh tree
        self._bucket_files.clear()
        # point-query fast path's parquet footer cache (index_query
        # _read_blocks_meta_cached, an LRU built on first use): same
        # immutable-artifact contract
        self._pq_meta = None
        self.manifest = read_manifest(self.index_dir)
        b = self.manifest["build"]
        self.n_docs = b["n_docs"]
        self.avgdl = b["avgdl"]
        self.posting_layout = int(b.get("posting_layout", 1))
        return self

    def postings(self) -> DataFrame:
        return self._load("postings")

    def n_deleted(self) -> int:
        n = int((self.manifest.get("metrics") or {}).get("n_deleted", 0))
        if n and not os.path.exists(
            os.path.join(self.index_dir, TOMBSTONES_DIR)
        ):
            return 0
        return n

    def group_seqs(self) -> dict[str, int]:
        """{group_name: creation seq} from the manifest (pre-0.6 groups: 0).
        The per-group tombstone ordering key (delete_docs docstring)."""
        return {
            str(g): int(rec.get("seq", 0))
            for g, rec in (self.manifest.get("completed_groups") or {}).items()
        }

    def shard_file_map(
        self, buckets: "list[int] | None" = None
    ) -> dict[int, list[tuple[int, str]]]:
        """{shard_id: [(group_seq, file_path), ...]} for layout-2 postings,
        restricted to the given term_bucket dirs (None = all buckets).

        This is every search plan's work-item source: each search
        task reads exactly its shard's parquet files straight from the
        (shared-storage) index dir — the layout makes co-location a
        property of the artifact instead of a runtime shuffle. The listing
        is one filesystem walk per bucket, cached on the handle (the
        artifact is immutable for a handle's lifetime, same contract as
        the stats cache)."""
        import glob

        if self.posting_layout < 2:
            raise ValueError(
                "shard_file_map needs posting layout >= 2 (engine >= "
                "0.8); rebuild or compact this index first"
            )
        if buckets is None:
            buckets = list(range(self.num_term_buckets))
        seq_of = {
            g: int(info.get("seq", 0))
            for g, info in self.manifest["completed_groups"].items()
        }
        out: dict[int, list[tuple[int, str]]] = {}
        for bkt in buckets:
            cached = self._bucket_files.get(bkt)
            if cached is None:
                cached = {}
                pat = os.path.join(
                    self.index_dir, "postings", "group=*",
                    f"term_bucket={bkt}", "shard_id=*", "*.parquet",
                )
                for path in glob.glob(pat):
                    parts = dict(
                        seg.split("=", 1)
                        for seg in path.split(os.sep)
                        if "=" in seg
                    )
                    s = int(parts["shard_id"])
                    gseq = seq_of.get(parts["group"], 0)
                    cached.setdefault(s, []).append((gseq, path))
                self._bucket_files[bkt] = cached
            for s, lst in cached.items():
                out.setdefault(s, []).extend(lst)
        return out

    def tombstones_pair(self):
        """(ids, seqs): sorted int64 doc ids with their per-id MAX delete
        seq — the closure-shipped search mask for small delete sets (the
        distributed side path takes over past TOMBSTONE_BROADCAST_MAX;
        index_search routes). Cached; refresh() reloads after
        delete/compact."""
        import numpy as np

        if getattr(self, "_tombstones", None) is None:
            if self.n_deleted() == 0:
                self._tombstones = (
                    np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
                )
            else:
                pdf = read_tombstones(
                    self.spark, self.index_dir
                ).toPandas()  # Arrow: ~16 B/id, no Row objects
                ids = pdf["doc_id"].to_numpy(dtype=np.int64)
                seqs = pdf["del_seq"].to_numpy(dtype=np.int64)
                order = np.argsort(ids)
                self._tombstones = (ids[order], seqs[order])
        return self._tombstones

    def tombstones_array(self):
        """Sorted int64 array of tombstoned doc ids (empty when none) —
        ids only; per-group masking uses tombstones_pair()."""
        return self.tombstones_pair()[0]

    def tombstones_df(self) -> DataFrame:
        """(doc_id, del_seq) DataFrame — the distributed masking side."""
        return read_tombstones(self.spark, self.index_dir)

    def live_doc_stats(self) -> DataFrame:
        """doc_stats restricted to live rows under per-group tombstones —
        what filtered search and stored-field fetch must read (a
        re-ingested doc has a dead old row and a live new one)."""
        return live_doc_stats_df(
            self.spark, self.index_dir, self.manifest, self.doc_stats()
        )

    def term_stats(self) -> DataFrame:
        return self._load("term_stats")

    @property
    def store_positions(self) -> bool:
        return bool(self.manifest["build"].get("store_positions", False))

    def bm25f_avgdl(self, title_tokens: int, w_title: float,
                    w_body: float) -> float:
        """Field-weighted average doc length for the positional-split
        BM25F surface (index_query.index_bm25f_search).

        One metadata-light agg over doc_stats per distinct split point,
        cached on the handle: (n, Σdl, Σmin(dl, split)) are exact integer
        sums, so avgdl~ for ANY (w_title, w_body) derives exactly as
        (w_t·S1 + w_b·(S−S1))/n — bit-equal to the corpus-scan path's
        Σ(per-doc weighted length)/n (bm25f._weighted_doc_stats)."""
        key = int(title_tokens)
        sums = getattr(self, "_bm25f_sums", None)
        if sums is None:
            sums = self._bm25f_sums = {}
        if key not in sums:
            row = self.doc_stats().agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("s"),
                F.sum(F.least(F.col("doc_len"), F.lit(key))).alias("s1"),
            ).first()
            if int(row.n) != self.n_docs:
                raise ValueError(
                    f"doc_stats rows ({row.n}) != manifest n_docs "
                    f"({self.n_docs}); repair/compact the index before "
                    "field-weighted search (stats must describe the same "
                    "corpus idf does)"
                )
            sums[key] = (int(row.n), int(row.s), int(row.s1))
        n, s, s1 = sums[key]
        return (w_title * s1 + w_body * (s - s1)) / n

    def doc_stats(self) -> DataFrame:
        return self._load("doc_stats")

    def fetch_text(self, results: DataFrame) -> DataFrame:
        """Join result rows (with doc_id) back to the stored text — only
        available when built with store_text=True (the inverse of the
        reference's skip-stored-vectors: faiss_index_hnsw_cagra_builder.py:77-83,
        serialized with IO_FLAG_SKIP_STORAGE when dropped)."""
        ds = self.live_doc_stats()
        if "text" not in ds.columns:
            raise ValueError(
                "index was built without store_text; rebuild with "
                "BuildParams(store_text=True) to serve stored fields"
            )
        return results.join(ds.select("doc_id", "text"), "doc_id", "left")
