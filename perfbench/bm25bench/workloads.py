"""The benchmark's workloads. Both are closed loop with one client: the
next request goes out only after the previous one returned and was checked.

search    a clean index of a seeded corpus; point requests, then batch and
          blockmax calls, every response checked against the pure-Python
          oracle.
maintain  a base index, then writes beside reads: append a micro-batch and
          query until it shows, delete ~1% of ids and query until they are
          gone, then the same requests on the fragmented, tombstoned index.
          The traced run adds compaction (checked against the oracle over
          the live docs) and a near-duplicate scan of the micro-batch.

Set-up (session start, input generation, the base index build, Index open
and the first cold query) is timed as setup_s in both.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

from sparkbm25 import jobs, streaming
from sparkbm25.build import BuildParams
from sparkbm25.index_query import index_search
from sparkbm25.oracle import OracleIndex
from sparkbm25.pipeline import dedup
from sparkbm25.session import get_spark

from . import ceilings, inputs
from .procfs import tree_cpu_s
from .spans import Tracer, layer_table, split_build_stages

K = 10
N_QUERIES = 100              # the batch call's query set
POINT_QUERIES = 50           # point requests per pass
WARMUP_POINTS = 25
BLOCKMAX_SIZE = 20

SEARCH_CONVS = 1000          # ~11k turns
BASE_CONVS = 1000            # maintain: ~11k base turns
BATCH_CONVS = 500            # maintain: ~5.5k turns in the micro-batch
N_MARKERS = 5
DUP_SHARE = 0.02
DELETE_SHARE = 0.01          # of live ids


def build_params(cores: int) -> BuildParams:
    """Build parameters sized for local[cores]: one shard per core, no
    salting and 8 term buckets. (The 32-core shape, 8 shards x 4 salts x 32
    buckets, made a cold build of the same corpus ~40% slower and a warm
    one ~3x slower on 4 cores, almost all of it per-task and per-file
    overhead.)"""
    return BuildParams(
        num_shards=cores, salt_factor=1, num_term_buckets=8,
        lineage_groups=1, doc_id_scheme="conv_seq",
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _by_query(rows) -> dict[int, list[tuple[int, int, float]]]:
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    return {q: sorted(v) for q, v in got.items()}


class OracleCheck:
    """Responses must be rank-identical to the oracle: same doc ids in the
    same order (ties by doc_id), scores equal to 1e-9 relative. prepare()
    computes the expected answers before the timed requests."""

    def __init__(self, oracle: OracleIndex):
        self.oracle = oracle
        self.want: dict = {}

    def prepare(self, requests) -> None:
        for qs, min_match in requests:
            for _, text in qs:
                if (text, min_match) not in self.want:
                    self.want[text, min_match] = self.oracle.search(
                        text, K, min_match=min_match)

    def __call__(self, qs, rows, min_match) -> bool:
        self.prepare([(qs, min_match)])
        got = _by_query(rows)
        if set(got) - {q for q, _ in qs}:
            return False
        for qid, text in qs:
            g, w = got.get(qid, []), self.want[text, min_match]
            if [r for r, _, _ in g] != list(range(1, len(w) + 1)):
                return False
            if [d for _, d, _ in g] != [d for d, _ in w]:
                return False
            if not all(math.isclose(s, ws, rel_tol=1e-9)
                       for (_, _, s), (_, ws) in zip(g, w)):
                return False
        return True


class LiveCheck:
    """Between writes the engine scores with frozen corpus stats, so the
    oracle over the live docs gives the matching docs but not the scores.
    Each response must hold min(k, matching live docs) distinct doc ids,
    all of them live docs that match the query (min_match applied; so no
    tombstoned id), ranked 1..n with non-increasing scores and ties by
    ascending doc_id. prepare() computes the matching sets before the
    timed requests."""

    def __init__(self, oracle: OracleIndex):
        self.oracle = oracle
        self.matching: dict = {}

    def prepare(self, requests) -> None:
        for qs, min_match in requests:
            for _, text in qs:
                if (text, min_match) not in self.matching:
                    self.matching[text, min_match] = {
                        d for d, _ in self.oracle.search(
                            text, self.oracle.n_docs, min_match=min_match)
                    }

    def __call__(self, qs, rows, min_match) -> bool:
        self.prepare([(qs, min_match)])
        got = _by_query(rows)
        if set(got) - {q for q, _ in qs}:
            return False
        for qid, text in qs:
            lst, match = got.get(qid, []), self.matching[text, min_match]
            if len(lst) != min(K, len(match)):
                return False
            if [r for r, _, _ in lst] != list(range(1, len(lst) + 1)):
                return False
            if not {d for _, d, _ in lst} <= match:
                return False
            for (_, d0, s0), (_, d1, s1) in zip(lst, lst[1:]):
                if s1 > s0 or (s1 == s0 and d1 <= d0):
                    return False
        return True


class Run:
    """One workload run: session, tally of attempted and failed operations,
    end-to-end and per-layer values."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 work: str, tracer: Tracer, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.tracer, self.cores = work, tracer, cores
        self.attempted = self.failed = 0
        self.e2e: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.spark = None
        self.manifest: dict = {}
        self.cold: tuple = ()

    # --- tally -------------------------------------------------------------
    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn):
        """Run one operation; an exception is printed and counted as a
        failed operation, never swallowed silently. Returns fn's result,
        or None when it raised."""
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            self.record(False, f"{what} raised")
            return None
        self.record(True, what)
        return result

    # --- requests ----------------------------------------------------------
    def _search(self, ix, kind, qs, **kw):
        with self.tracer.span(f"index_query.{kind}", req=self.attempted,
                              cpu=False) as sp:
            t0 = time.perf_counter()
            df = index_search(ix, qs, k=K, **kw)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            sp["plan_s"], sp["collect_s"] = t1 - t0, t2 - t1
            sp["rows"] = len(rows)
        return rows, t2 - t0

    def request(self, ix, kind, qs, check, lat: list | None = None, **kw):
        """One checked search request; appends its latency to `lat`.
        Returns the rows, or None when the request raised. With check=None
        the caller checks the rows and records the outcome."""
        try:
            rows, dt = self._search(ix, kind, qs, **kw)
        except Exception:
            traceback.print_exc()
            self.record(False, f"{kind} request raised")
            return None
        if lat is not None:
            lat.append(dt)
        if check is not None:
            self.record(check(qs, rows, kw.get("min_match")),
                        f"{kind} response wrong for {qs[:3]}")
        return rows

    def read_phase(self, ix, texts: list[str], check) -> None:
        """Point requests, then Spark-route requests, each after a warm-up,
        repeated until the run's seconds have passed. The point phase asks
        the first POINT_QUERIES queries (every query kind equally often)
        once each, in a seeded order. The Spark-route phase makes, twice, a
        20-query blockmax call with plain OR, one with min_match=2, and a
        batch call over the whole query set.

        The kinds run in separate phases because a Spark job between point
        requests made the next point requests up to 2x slower and their
        per-run median far less repeatable (measured on 4 cores). CPU is
        the process tree's, read around each phase or call."""
        rng = np.random.default_rng(self.seed + 303)
        everything = list(enumerate(texts))
        warm_points = [[(0, texts[-1 - i])] for i in range(WARMUP_POINTS)]
        points = [[(0, texts[i])] for i in rng.permutation(POINT_QUERIES)]
        warm_spark = ("warmup", everything[-BLOCKMAX_SIZE:], {"strategy": "blockmax"})
        spark_calls = []
        for _ in range(2):
            picks = [everything[i] for i in rng.permutation(len(texts))]
            spark_calls += [
                ("blockmax_or", picks[:BLOCKMAX_SIZE], {"strategy": "blockmax"}),
                ("blockmax_msm", picks[BLOCKMAX_SIZE:2 * BLOCKMAX_SIZE],
                 {"strategy": "blockmax", "min_match": 2}),
                ("batch", picks, {}),
            ]
        check.prepare([(qs, None) for qs in warm_points + points]
                      + [(qs, kw.get("min_match"))
                         for _, qs, kw in [warm_spark, *spark_calls]])
        # the benchmark's own objects (oracle, inputs) must not make the
        # cyclic collector's pauses part of the measured latencies
        gc.collect()
        gc.freeze()

        lat = {"point": [], "batch": [], "blockmax": []}
        cpu = dict.fromkeys(lat, 0.0)
        n_q = dict.fromkeys(lat, 0)
        t_end = time.perf_counter() + self.seconds
        while not lat["point"] or time.perf_counter() < t_end:
            # a process's first few dozen point calls run ~30% slower
            for qs in warm_points:
                self.request(ix, "warmup", qs, check)
            c0 = tree_cpu_s()
            for qs in points:
                self.request(ix, "point", qs, check, lat["point"])
            cpu["point"] += tree_cpu_s() - c0
            n_q["point"] += len(points)
            kind, qs, kw = warm_spark
            self.request(ix, kind, qs, check, **kw)
            for kind, qs, kw in spark_calls:
                group = kind.split("_")[0]
                c0 = tree_cpu_s()
                self.request(ix, kind, qs, check, lat[group], **kw)
                cpu[group] += tree_cpu_s() - c0
                n_q[group] += len(qs)
        pts = lat["point"]
        # p80: the highest percentile with >= 10 samples beyond it in a pass
        self.e2e["point_p50_ms"] = statistics.median(pts) * 1e3
        self.e2e["point_p80_ms"] = statistics.quantiles(pts, n=5)[3] * 1e3
        self.e2e["batch_qps"] = len(texts) / statistics.median(lat["batch"])
        self.e2e["blockmax_qps"] = n_q["blockmax"] / sum(lat["blockmax"])
        for group in lat:
            self.e2e[f"{group}_cpu_ms_per_query"] = cpu[group] / n_q[group] * 1e3

    # --- set-up ------------------------------------------------------------
    def start_session(self, extra_conf: dict) -> None:
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   cores=self.cores, extra_conf=extra_conf)
        self.tracer.sc = self.spark.sparkContext
        # engine steps reached through module globals get spans of their own
        self.tracer.wrap(jobs, "compute_corpus_stats", "build.compute_corpus_stats")
        self.tracer.wrap(jobs, "write_group_blocks", "build.write_group_blocks")
        self.tracer.wrap(streaming, "write_group_blocks", "build.write_group_blocks")

    def build_base(self, path: str, n_turns: int, ix_dir: str, probe: str):
        """Base build, Index open and the first cold query (all set-up). The
        cold query's rows are checked by check_cold once the workload's
        oracle exists, so that building it stays out of set-up."""
        corpus = self.spark.read.parquet(path)
        with self.tracer.span("jobs.build_index"):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            self.manifest = jobs.build_index(
                corpus, ix_dir, build_params(self.cores),
                source_fingerprint=f"{path}:{self.seed}",
            )
            build_s, build_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        self.e2e["build_turns_per_s"] = n_turns / build_s
        self.e2e["build_cpu_ms_per_turn"] = build_cpu / n_turns * 1e3
        self.e2e["index_bytes_per_posting"] = (
            dir_bytes(ix_dir) / self.manifest["metrics"]["total_postings"]
        )
        with self.tracer.span("jobs.Index.open"):
            ix = jobs.Index(self.spark, ix_dir)
        qs = [(0, probe)]
        self.cold = (qs, self.request(ix, "cold_query", qs, None))
        return ix

    def check_cold(self, check) -> None:
        qs, rows = self.cold
        if rows is not None:
            self.record(check(qs, rows, None), "cold query response wrong")

    # --- per-layer table ---------------------------------------------------
    def layer_metrics(self, stages: dict, job_counts: dict,
                      writes: list[dict]) -> dict[str, float]:
        spans = self.tracer.spans
        t = layer_table(spans, stages, job_counts)

        def g(name, key):
            return float(t.get(name, {}).get(key, 0))

        def per_call(name, key):
            calls = g(name, "calls")
            return g(name, key) / calls if calls else 0.0

        def attr_mean(name, key):
            vals = [s[key] for s in spans if s["name"] == name]
            return statistics.mean(vals) if vals else 0.0

        out = {"session.get_spark.wall_s": g("session.get_spark", "wall_s")}
        bi, mm = "jobs.build_index", self.manifest.get("metrics", {})
        out.update({
            f"{bi}.wall_s": g(bi, "wall_s"), f"{bi}.core_s": g(bi, "core_s"),
            f"{bi}.stats_s": float(mm.get("stats", 0)),
            f"{bi}.group_s": float(mm.get("group_0", 0)),
            f"{bi}.finalize_s": float(mm.get("finalize", 0)),
            f"{bi}.total_blocks": float(mm.get("total_blocks", 0)),
            f"{bi}.payload_bytes": float(mm.get("payload_bytes", 0)),
        })
        for key in ("wall_s", "core_s"):
            out[f"build.compute_corpus_stats.{key}"] = g("build.compute_corpus_stats", key)
        # every term-stats write of the run: the base build's finalize and,
        # on maintain, finalize_stream and compaction
        out["build.term_stats_from_blocks.wall_s"] = sum(
            w["wall_s"] for w in writes if os.path.basename(w["path"]) == "term_stats")
        split = split_build_stages(spans, stages, bi)
        s1, mw = split["stage1"], split["merge_write"]
        out.update({
            "build.stage1.executor_run_s": s1["executor_run_s"],
            "build.stage1.executor_cpu_s": s1["executor_cpu_s"],
            "build.stage1.shuffle_write_bytes": s1["shuffle_write_bytes"],
            "build.stage1.records": s1["shuffle_write_records"],
            "build.merge_write.executor_run_s": mw["executor_run_s"],
            "build.merge_write.executor_cpu_s": mw["executor_cpu_s"],
            "build.merge_write.shuffle_read_bytes": mw["shuffle_read_bytes"],
            "build.merge_write.fetch_wait_s": mw["fetch_wait_s"],
            "build.merge_write.output_bytes": mw["output_bytes"],
        })
        out["jobs.Index.open.wall_s"] = g("jobs.Index.open", "wall_s")
        out["jobs.Index.refresh.wall_s"] = per_call("jobs.Index.refresh", "wall_s")
        out["index_query.cold_query.wall_s"] = g("index_query.cold_query", "wall_s")
        for kind in ("point", "batch", "blockmax_or", "blockmax_msm"):
            n = f"index_query.{kind}"
            out[f"{n}.plan_ms"] = attr_mean(n, "plan_s") * 1e3
            out[f"{n}.collect_ms"] = attr_mean(n, "collect_s") * 1e3
            out[f"{n}.rows"] = attr_mean(n, "rows")
            out[f"{n}.spark_jobs"] = per_call(n, "spark_jobs")
            out[f"{n}.spark_tasks"] = per_call(n, "tasks")
            out[f"{n}.executor_run_ms"] = per_call(n, "executor_run_s") * 1e3
            out[f"{n}.input_bytes"] = per_call(n, "input_bytes")
        out["jobs.delete_docs.wall_s"] = per_call("jobs.delete_docs", "wall_s")
        for n in ("streaming.append_batch", "streaming.finalize_stream"):
            out[f"{n}.wall_s"] = g(n, "wall_s")
            out[f"{n}.core_s"] = g(n, "core_s")
            out[f"{n}.spark_jobs"] = g(n, "spark_jobs")
        out["streaming.compact_index.wall_s"] = g("streaming.compact_index", "wall_s")
        out["streaming.compact_index.core_s"] = g("streaming.compact_index", "core_s")
        for n in ("pipeline.dedup.minhash_bands", "pipeline.dedup.minhash_lsh_pairs"):
            out[f"{n}.wall_s"] = g(n, "wall_s")
            out[f"{n}.core_s"] = g(n, "core_s")
        out["bench.oracle.wall_s"] = g("bench.oracle", "wall_s")
        out["bench.inputs.wall_s"] = g("bench.inputs", "wall_s")
        out.update(self.extra)
        root = t.get("run", {})
        out["trace.spans"] = float(len(spans))
        out["trace.unattributed_share"] = (
            root["self_s"] / root["wall_s"] if root else 0.0
        )
        return out


# --- workloads ---------------------------------------------------------------
def run_search(r: Run, extra_conf: dict) -> None:
    t0 = time.perf_counter()
    r.start_session(extra_conf)
    with r.tracer.span("bench.inputs"):
        df = inputs.transcripts(SEARCH_CONVS, r.seed)
        texts = inputs.queries(N_QUERIES, r.seed)
        path = os.path.join(r.work, "corpus.parquet")
        inputs.write_parquet(df, path)
    ix_dir = os.path.join(r.work, "index")
    ix = r.build_base(path, len(df), ix_dir, texts[0])
    r.e2e["setup_s"] = time.perf_counter() - t0

    with r.tracer.span("bench.oracle"):
        check = OracleCheck(OracleIndex.build(list(zip(df["doc_id"].tolist(), df["text"]))))
    r.check_cold(check)
    r.read_phase(ix, texts, check)

    if r.tracer.enabled:
        with r.tracer.span("ceilings"):
            r.extra.update(r.attempt("ceilings", lambda: ceilings.measure(
                r.spark, path, len(df), ix_dir)) or {})


def run_maintain(r: Run, extra_conf: dict) -> None:
    t0 = time.perf_counter()
    r.start_session(extra_conf)
    with r.tracer.span("bench.inputs"):
        df = inputs.transcripts(BASE_CONVS + BATCH_CONVS, r.seed)
        split = inputs.first_doc_id(BASE_CONVS)
        base, batch = df[df["doc_id"] < split], df[df["doc_id"] >= split]
        batch, planted = inputs.plant_near_dups(
            batch, DUP_SHARE, BASE_CONVS + BATCH_CONVS, r.seed)
        # marker turns stay out of the planted pairs: a marked copy would
        # answer the marker query, and a marked source could drop its
        # pair's Jaccard below the threshold
        batch, markers = inputs.add_markers(
            batch, N_MARKERS, r.seed, {i for pair in planted for i in pair})
        texts = inputs.queries(N_QUERIES, r.seed)
        base_path = os.path.join(r.work, "base.parquet")
        batch_path = os.path.join(r.work, "batch.parquet")
        inputs.write_parquet(base, base_path)
        inputs.write_parquet(batch, batch_path)
    ix_dir = os.path.join(r.work, "index")
    ix = r.build_base(base_path, len(base), ix_dir, texts[0])
    r.e2e["setup_s"] = time.perf_counter() - t0
    with r.tracer.span("bench.oracle"):
        r.check_cold(OracleCheck(OracleIndex.build(list(zip(
            base["doc_id"].tolist(), base["text"])))))

    dead: set[int] = set()
    marker_q = [(0, inputs.MARKER)]

    def markers_visible(qs, rows, _mm):
        return {row.doc_id for row in rows} == set(markers) - dead

    # append a micro-batch; visible once a query returns its marker turns
    t0 = time.perf_counter()
    with r.tracer.span("streaming.append_batch"):
        r.attempt("append_batch", lambda: streaming.append_batch(
            r.spark.read.parquet(batch_path), ix_dir, 1))
    with r.tracer.span("streaming.finalize_stream"):
        r.attempt("finalize_stream",
                  lambda: streaming.finalize_stream(r.spark, ix_dir))
    with r.tracer.span("jobs.Index.refresh"):
        ix.refresh()
    r.request(ix, "probe", marker_q, markers_visible)
    r.extra["maintain.ingest_visible_s"] = time.perf_counter() - t0

    # delete ~1% of the live ids, one marker turn among them; gone once a
    # query no longer returns them
    rng = np.random.default_rng(r.seed + 404)
    live = np.concatenate([base["doc_id"].to_numpy(), batch["doc_id"].to_numpy()])
    ids = {int(x) for x in rng.choice(live, int(len(live) * DELETE_SHARE),
                                      replace=False)}
    ids.add(int(markers[0]))
    t0 = time.perf_counter()
    with r.tracer.span("jobs.delete_docs"):
        r.attempt("delete_docs",
                  lambda: jobs.delete_docs(r.spark, ix_dir, sorted(ids)))
    dead |= ids
    with r.tracer.span("jobs.Index.refresh"):
        ix.refresh()
    r.request(ix, "probe", marker_q, markers_visible)
    r.extra["maintain.delete_visible_s"] = time.perf_counter() - t0
    r.extra["maintain.groups"] = float(len(ix.manifest["completed_groups"]))
    r.extra["maintain.index_files"] = float(
        sum(len(v) for v in ix.shard_file_map().values()))

    with r.tracer.span("bench.oracle"):
        live = OracleIndex.build([
            (int(d), t) for part in (base, batch)
            for d, t in zip(part["doc_id"], part["text"]) if int(d) not in dead
        ])
    r.read_phase(ix, texts, LiveCheck(live))

    if not r.tracer.enabled:
        return
    # compaction purges the tombstoned postings and recomputes n_docs and
    # avgdl: results must then match the oracle over the live docs
    postings = os.path.join(ix_dir, "postings")
    r.extra["streaming.compact_index.bytes_in"] = float(dir_bytes(postings))
    t0 = time.perf_counter()
    with r.tracer.span("streaming.compact_index"):
        r.attempt("compact_index",
                  lambda: streaming.compact_index(r.spark, ix_dir))
    with r.tracer.span("jobs.Index.refresh"):
        ix.refresh()
    r.extra["maintain.compact_s"] = time.perf_counter() - t0
    r.extra["streaming.compact_index.bytes_out"] = float(dir_bytes(postings))
    r.request(ix, "post_compact", list(enumerate(texts[:BLOCKMAX_SIZE])),
              OracleCheck(live))

    # near-duplicate scan of the micro-batch: every planted pair is found,
    # and every reported pair's exact Jaccard meets the threshold
    bdf = r.spark.read.parquet(batch_path)
    with r.tracer.span("pipeline.dedup.minhash_bands"):
        r.attempt("minhash_bands",
                  lambda: dedup.minhash_bands(bdf, n_bands=32).count())
    t0 = time.perf_counter()
    with r.tracer.span("pipeline.dedup.minhash_lsh_pairs"), \
            keep_checkpoints(type(bdf)) as checkpointed:
        pairs = r.attempt("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
            bdf, threshold=0.5, n_bands=32, min_band_collisions=1).collect())
    r.extra["pipeline.dedup.turns_per_s"] = len(batch) / (time.perf_counter() - t0)
    if pairs is not None:
        text_of = dict(zip(batch["doc_id"].tolist(), batch["text"]))
        found = {(p.doc_a, p.doc_b) for p in pairs}
        r.record(set(planted) <= found, "a planted near-duplicate pair was missed")
        r.record(all(inputs.jaccard(text_of[a], text_of[b]) >= 0.5 for a, b in found),
                 "a reported pair is below the Jaccard threshold")
        r.extra["pipeline.dedup.verified_pairs"] = float(len(found))
        r.extra["pipeline.dedup.planted_pairs"] = float(len(planted))
        # the call checkpoints exactly one frame, its candidate pairs; they
        # are counted here, after the timed call
        if len(checkpointed) == 1:
            cand = checkpointed[0].count()
            r.extra["pipeline.dedup.candidate_pairs"] = float(cand)
            r.extra["pipeline.dedup.verify_yield"] = len(found) / cand if cand else 0.0


@contextmanager
def keep_checkpoints(frame_cls):
    """Collects every frame the engine local-checkpoints while the block
    runs, so its row count can be read afterwards without re-running it."""
    orig = frame_cls.localCheckpoint
    kept: list = []

    def local_checkpoint(self, *args, **kwargs):
        kept.append(orig(self, *args, **kwargs))
        return kept[-1]

    frame_cls.localCheckpoint = local_checkpoint
    try:
        yield kept
    finally:
        frame_cls.localCheckpoint = orig


RUNNERS = {"search": run_search, "maintain": run_maintain}
