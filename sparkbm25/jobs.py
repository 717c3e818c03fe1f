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

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import tokens_col
from .catalog import CasConflict, get_catalog
from .localrel import LocalFrame, local_df

from .build import (
    POSTING_LAYOUT,
    BuildParams,
    CorpusStats,
    StageTimer,
    _stats_from_manifest,
    build_postings,
    compute_corpus_stats,
    params_dict,
    term_stats_from_blocks,
    write_doc_stats,
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
# legacy (pre-0.6) tombstone rows carry no del_seq: they mask the id in
# EVERY group, old behavior preserved (the undelete flow they relied on is
# superseded by per-group seqs)
LEGACY_DEL_SEQ = 1 << 62

TOMBSTONE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("del_seq", pa.int64())])


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _read_parquet(path: str, columns: list[str] | None = None) -> pa.Table:
    """One parquet file read in the calling thread — no pyarrow.dataset
    and no Arrow thread pool, the style of index_query's block reader."""
    with pq.ParquetFile(path) as f:
        return f.read(columns=columns, use_threads=False)


def tombstone_pair(index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """The one tombstone reader: (ids, seqs), the sorted int64 ids of
    ``tombstones/`` with each id's MAX delete seq, read in the driver
    with pyarrow under TOMBSTONE_SCHEMA. Legacy files without the
    del_seq column coalesce to LEGACY_DEL_SEQ (mask everywhere). Every
    search, phrase and aggregation kernel gets this pair in its closure,
    and compact_index purges with it (16 B per id)."""
    ids, seqs = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for path in _parquet_files(os.path.join(index_dir, TOMBSTONES_DIR)):
        t = _read_parquet(path)
        if "del_seq" not in t.column_names:  # legacy (pre-0.6) file
            t = t.append_column("del_seq", pa.nulls(t.num_rows, pa.int64()))
        # delete_docs writes del_seq as a Spark int literal (int32)
        t = t.select(TOMBSTONE_SCHEMA.names).cast(TOMBSTONE_SCHEMA)
        ids.append(t.column("doc_id").to_numpy())
        seqs.append(t.column("del_seq").fill_null(LEGACY_DEL_SEQ).to_numpy())
    ids, seqs = np.concatenate(ids), np.concatenate(seqs)
    order = np.lexsort((seqs, ids))
    ids, seqs = ids[order], seqs[order]
    last = np.ones(len(ids), dtype=bool)  # an id's max seq sorts last
    last[:-1] = ids[1:] != ids[:-1]
    return ids[last], seqs[last]


def read_tombstones(spark: SparkSession, index_dir: str,
                    pair: tuple | None = None) -> DataFrame:
    """(doc_id, del_seq) rows, one per id — a LocalFrame over
    tombstone_pair (or the given ``pair``) for the JVM joins that need
    it (live_doc_stats_df)."""
    ids, seqs = tombstone_pair(index_dir) if pair is None else pair
    return LocalFrame(spark, pa.table({"doc_id": ids, "del_seq": seqs}))


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


def read_groups(spark: SparkSession, index_dir: str, name: str,
                m: dict) -> DataFrame:
    """The ``postings`` or ``doc_stats`` tree (``name``) of the lineage
    groups the manifest ``m`` lists, with the ``group`` partition column.
    A group dir with no manifest entry (an append whose manifest write
    failed after its dirs were published) is not read."""
    root = os.path.join(index_dir, name)
    dirs = [os.path.join(root, f"group={g}")
            for g in sorted(m.get("completed_groups") or {})]
    return spark.read.option("basePath", root).parquet(
        *[d for d in dirs if os.path.isdir(d)]
    )


def live_doc_stats_df(
    spark: SparkSession, index_dir: str, m: dict, ds: DataFrame | None = None,
    pair: tuple | None = None,
) -> DataFrame:
    """doc_stats restricted to LIVE rows under per-group tombstones: row
    (doc_id, group) is dead iff a tombstone (doc_id, s) has s >= seq(group).
    A re-ingested doc keeps exactly its newest copy. Plain equi-join on
    doc_id against the tombstone LocalFrame (``pair``, when the caller
    already holds it, else read here)."""
    if ds is None:
        ds = read_groups(spark, index_dir, "doc_stats", m)
    n_del = int((m.get("metrics") or {}).get("n_deleted", 0))
    if not n_del or not os.path.exists(
        os.path.join(index_dir, TOMBSTONES_DIR)
    ):
        return ds
    tomb = read_tombstones(spark, index_dir, pair)
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

    Memory: searches mask with the (id, del_seq) pair in the driver, 16 B
    per tombstoned id until compact_index purges them (compaction needs
    the same pair); PySpark broadcasts a task closure over 1 MiB instead
    of sending it with each task.

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
        n = len(tombstone_pair(index_dir)[0])
        m.setdefault("metrics", {})["n_deleted"] = n
        m["seq_counter"] = del_seq
        _write_manifest(index_dir, m)
        return m


def _sum_column(tree: str, column: str) -> int:
    """Σ ``column`` over every parquet file under ``tree`` (partition
    directories included), read in the driver with pyarrow."""
    return sum(
        pc.sum(_read_parquet(path, [column]).column(0)).as_py() or 0
        for path in glob.glob(
            os.path.join(tree, "**", "*.parquet"), recursive=True
        )
    )


def write_group(
    corpus: DataFrame, params: BuildParams, shard_shift: int,
    postings_dest: str, doc_stats_dest: str,
) -> None:
    """Write one lineage group: its doc_stats rows (doc_id, doc_len
    [, text] [, attr_cols]) and its posting blocks — the one group writer
    of the base build and of append_batch, both of which stage the group
    outside the artifact and publish it by rename afterwards.

    The kernels score with the doc_stats lengths (the JVM tokenizer,
    tokens_col) while stage 1 builds the postings with the Python
    tokenizer, so before returning this checks, from the written files,
    that Σdoc_len equals the blocks' Σsum_tf; a disagreement would skew
    every score silently, so it raises ValueError and the caller
    publishes nothing."""
    write_doc_stats(
        corpus.select(
            "doc_id",
            F.size(tokens_col("text")).alias("doc_len"),
            *(["text"] if params.store_text else []),
            *params.attr_cols,
        ),
        doc_stats_dest, shard_shift,
    )
    write_group_blocks(
        build_postings(corpus, params, shard_shift), postings_dest
    )
    doc_tokens = _sum_column(doc_stats_dest, "doc_len")
    posted = _sum_column(postings_dest, "sum_tf")
    if doc_tokens != posted:
        raise ValueError(
            f"postings hold {posted} tokens but doc_stats count "
            f"{doc_tokens}: the Python and JVM tokenizers disagree, so "
            "stored doc lengths would not match the postings"
        )


def publish_group(moves) -> None:
    """Move a written group's staged dirs into the artifact: each
    (staged, dest) pair by rename, replacing what dest held (a crashed
    attempt's partial output, or the group a re-run epoch replaces)."""
    for src, dst in moves:
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def write_term_stats(blocks: DataFrame, index_dir: str) -> int:
    """(Re)write ``term_stats/`` from the metadata of ``blocks`` (the
    index's whole ``postings/`` tree) and return the vocabulary size
    (Index.term_stats_lookup's preload-vs-lazy decision; a metadata-only
    count of the fresh files)."""
    tdir = os.path.join(index_dir, "term_stats")
    term_stats_from_blocks(blocks).write.mode("overwrite").parquet(tdir)
    return blocks.sparkSession.read.parquet(tdir).count()


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
        if int(b.get("posting_layout", 1)) < POSTING_LAYOUT:
            raise ValueError(
                f"cannot resume a build of posting layout "
                f"{b.get('posting_layout', 1)} (this engine writes layout "
                f"{POSTING_LAYOUT}); rebuild the index into a fresh directory"
            )
        _, stats = _stats_from_manifest(m)

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
            with timer.time(f"group_{g}"):
                write_group(corpus.filter(group_col == g), params,
                            stats.shard_shift, g_stage, d_stage)
            # publish gate: only the claim holder may move staged output
            # into the artifact and update the manifest
            _verify_claim(index_dir, token)
            publish_group(((g_stage, gdir), (d_stage, ddir)))
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
            blocks_all = read_groups(corpus.sparkSession, index_dir,
                                     "postings", m)
            m["build"]["n_terms"] = write_term_stats(blocks_all, index_dir)
            # artifact size metrics (reference logs artifact size at upload,
            # tasks.py:341-381; compression ratio is the PQ-compression
            # analog, SURVEY §4)
            size_row = blocks_all.agg(
                F.sum("n_docs").alias("postings"),
                F.count("*").alias("blocks"),
                F.sum(
                    F.length("docs_vbyte")
                    + F.length("tfs_vbyte")
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
    """Handle over a built index directory (the query engine's input).

    Driver memory: besides the vocabulary cache and the tombstone pair,
    a handle caches, for the shards and files a driver-route search has
    touched, each shard's norms (doc id + doc length, 12 B per doc) and
    the posting row groups it read (block_cache: each file's schema and
    row-group term bounds, and each read column as Arrow, still
    vbyte-encoded, within index_query.DRIVER_BLOCK_CACHE_BYTES; the
    benchmark's 1,000-conversation index caches whole in ~2 MB).
    refresh() drops them."""

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
        # every search plan reads layout 3 (shard_file_map); older
        # indexes need compaction
        self.posting_layout: int = int(b.get("posting_layout", 1))
        self._bucket_files: dict[int, dict[int, list[tuple[int, str]]]] = {}
        self._norm_files: dict[int, list[tuple[int, str]]] | None = None
        self._norms: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._blocks = None
        self._dfs: dict[str, DataFrame] = {}
        self._stats_cache: dict[str, int | None] = {}
        self._stats_preloaded = False

    def _load(self, name: str) -> DataFrame:
        # cache the DataFrame handle: file listing + schema inference happen
        # once per index, not once per query
        if name not in self._dfs:
            self._dfs[name] = (
                self.spark.read.parquet(os.path.join(self.index_dir, name))
                if name == "term_stats" else
                read_groups(self.spark, self.index_dir, name, self.manifest)
            )
        return self._dfs[name]

    # vocabulary sizes up to this preload whole (at ~24 B/entry this is
    # ~100 MB of driver heap); beyond it, per-term lazy caching bounds the
    # driver by query traffic instead of corpus vocabulary
    STATS_PRELOAD_MAX_TERMS = 4_000_000

    def term_stats_lookup(self, terms: list[str]) -> dict[str, int]:
        """Driver-side {term: df} for query terms, cached on the
        handle and read with pyarrow (no Spark job): the first call
        preloads the whole vocabulary when it is small enough, so warm
        single-query searches run in the driver alone (the reference's
        query path is one index.search call, search_indices.py:30-39);
        past STATS_PRELOAD_MAX_TERMS missing terms are read with the
        block reader's term filter (row groups pruned by statistics).
        Terms absent from the index are cached as absent. The index
        artifact is immutable; after finalize_stream use refresh()/a new
        Index (streaming.py docs)."""
        tdir = os.path.join(self.index_dir, "term_stats")
        if not self._stats_preloaded and not self._stats_cache:
            files = _parquet_files(tdir)
            n_terms = self.manifest["build"].get("n_terms")
            if n_terms is None:  # pre-0.3 manifest: parquet footer counts
                n_terms = sum(pq.read_metadata(p).num_rows for p in files)
                self.manifest["build"]["n_terms"] = n_terms
            if n_terms <= self.STATS_PRELOAD_MAX_TERMS:
                for p in files:
                    tbl = _read_parquet(p, ["term", "df"])
                    self._stats_cache.update(zip(
                        tbl.column("term").to_pylist(),
                        tbl.column("df").to_pylist(),
                    ))
                self._stats_preloaded = True
        missing = [t for t in terms if t not in self._stats_cache]
        if missing and not self._stats_preloaded:
            from .index_query import _read_shard_blocks

            # row groups pruned by their term statistics, then is_in
            tbl = _read_shard_blocks([(0, p) for p in _parquet_files(tdir)],
                                     ["term", "df"], missing, False)
            found = dict(zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            ))
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
    ) -> dict[str, list[tuple[str, int]]]:
        """Vocabulary expansion for wildcard query tokens: stem ->
        [(term, df), ...] over every indexed term starting
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
    ) -> dict[str, list[tuple[str, int]]]:
        """Vocabulary expansion for FUZZY query tokens: stem ->
        [(term, df), ...] over every indexed term within
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
    ) -> dict[str, list[tuple[str, int]]]:
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
        out: dict[str, list[tuple[str, int]]] = {s: [] for s in stems}
        if self._stats_preloaded:
            for t, df in self._stats_cache.items():
                if df is None:
                    continue
                for s in stems:
                    if py_match(t, s):
                        out[s].append((t, df))
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
                .select("term", "df")
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
                out[r.stem].append((r.term, r.df))
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
        self._norm_files = None
        self._norms.clear()
        self._blocks = None
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

    def _group_seqs_of_paths(self, pattern: str) -> dict[int, list]:
        """{shard_id: [(group_seq, path), ...]} of the files matching the
        glob ``pattern`` (a group=G/.../shard_id=S/ tree), restricted to
        the groups the manifest lists: a group dir left behind by an
        append whose manifest write failed is not searched."""
        seq_of = self.group_seqs()
        out: dict[int, list[tuple[int, str]]] = {}
        for path in glob.glob(pattern):
            parts = dict(
                seg.split("=", 1) for seg in path.split(os.sep) if "=" in seg
            )
            seq = seq_of.get(parts["group"])
            if seq is None:
                continue  # not in the manifest: never published
            out.setdefault(int(parts["shard_id"]), []).append((seq, path))
        return out

    def shard_file_map(
        self, buckets: "list[int] | None" = None
    ) -> dict[int, list[tuple[int, str]]]:
        """{shard_id: [(group_seq, file_path), ...]} for layout-3 postings,
        restricted to the given term_bucket dirs (None = all buckets).

        This is every search plan's work-item source: each search
        task reads exactly its shard's parquet files straight from the
        (shared-storage) index dir — the layout makes co-location a
        property of the artifact instead of a runtime shuffle. The listing
        is one filesystem walk per bucket, cached on the handle (the
        artifact is immutable for a handle's lifetime, same contract as
        the stats cache)."""
        if self.posting_layout < POSTING_LAYOUT:
            raise ValueError(
                f"search needs posting layout >= {POSTING_LAYOUT} (engine "
                f">= 0.10), this index has layout {self.posting_layout}; "
                "compact it first (streaming.compact_index)"
            )
        if buckets is None:
            buckets = list(range(self.num_term_buckets))
        out: dict[int, list[tuple[int, str]]] = {}
        for bkt in buckets:
            cached = self._bucket_files.get(bkt)
            if cached is None:
                cached = self._bucket_files[bkt] = self._group_seqs_of_paths(
                    os.path.join(
                        self.index_dir, "postings", "group=*",
                        f"term_bucket={bkt}", "shard_id=*", "*.parquet",
                    )
                )
            for s, lst in cached.items():
                out.setdefault(s, []).extend(lst)
        return out

    def norm_file_map(self) -> dict[int, list[tuple[int, str]]]:
        """{shard_id: [(group_seq, file_path), ...]} of the doc_stats
        files (doc_stats/group=G/shard_id=S/) — where a search task reads
        its shard's doc lengths (index_query._read_shard_norms). One
        filesystem walk, cached on the handle like shard_file_map."""
        if self._norm_files is None:
            self._norm_files = self._group_seqs_of_paths(os.path.join(
                self.index_dir, "doc_stats", "group=*", "shard_id=*",
                "*.parquet",
            ))
        return self._norm_files

    def shard_norms(self, shard: int) -> tuple[np.ndarray, np.ndarray]:
        """One shard's norms, (sorted doc ids, their doc lengths), read
        once per handle for the driver route (12 B per doc)."""
        if shard not in self._norms:
            from .index_query import _read_shard_norms

            self._norms[shard] = _read_shard_norms(
                self.norm_file_map().get(shard, [])
            )
        return self._norms[shard]

    def block_cache(self):
        """The driver route's posting row-group cache
        (index_query._BlockCache, bounded by
        index_query.DRIVER_BLOCK_CACHE_BYTES), made on first use."""
        if self._blocks is None:
            from .index_query import DRIVER_BLOCK_CACHE_BYTES, _BlockCache

            self._blocks = _BlockCache(DRIVER_BLOCK_CACHE_BYTES)
        return self._blocks

    def tombstones_pair(self):
        """(ids, seqs): sorted int64 doc ids with their per-id MAX delete
        seq (tombstone_pair) — the search mask every kernel gets in its
        closure. Cached; refresh() reloads after delete/compact."""
        if getattr(self, "_tombstones", None) is None:
            self._tombstones = (
                tombstone_pair(self.index_dir) if self.n_deleted()
                else (np.empty(0, np.int64), np.empty(0, np.int64))
            )
        return self._tombstones

    def tombstones_array(self):
        """Sorted int64 array of tombstoned doc ids (empty when none) —
        ids only; per-group masking uses tombstones_pair()."""
        return self.tombstones_pair()[0]

    def live_doc_stats(self) -> DataFrame:
        """doc_stats restricted to live rows under per-group tombstones —
        what filtered search and stored-field fetch must read (a
        re-ingested doc has a dead old row and a live new one)."""
        return live_doc_stats_df(
            self.spark, self.index_dir, self.manifest, self.doc_stats(),
            self.tombstones_pair(),
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
