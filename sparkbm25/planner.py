"""Build sizing & admission estimates — the reference's capacity layer.

Transposes app/utils/memory.py:14-59 (closed-form GPU/CPU byte estimates
from (n, dim, m, dtype) used for admission control at job submit,
app/services/job_service.py:141-149) and index_builder_utils.py:29-41
(parameter auto-tuning from data size).

Spark has no GPU ledger to guard; what admission becomes here is *task
sizing*: pick num_shards / salt_factor / shuffle partitions so the largest
merge task and the shuffle volumes fit executor memory, and surface the
estimates in the manifest for operators to sanity-check before a 100 TB run.
"""

from __future__ import annotations

from dataclasses import dataclass

from .build import BuildParams

# empirical constants (measured on the synthetic corpus; order-of-magnitude
# is what matters for sizing, exactly like the reference's 1.1 fudge factor)
BYTES_PER_POSTING_RAW = 16  # int64 doc + int64 tf per decoded posting
# delta-varbyte docs + vbyte tfs + block and file overhead; an upper bound
# since posting layout 3 (3.46 B/posting on the benchmark index)
BYTES_PER_POSTING_COMPRESSED = 4.5
OVERHEAD = 1.2  # arrow/pandas copies inside kernels (reference uses 1.1)


@dataclass
class BuildEstimate:
    total_postings: int
    runs_shuffle_bytes: int
    index_bytes: int
    max_merge_task_postings: int
    max_merge_task_bytes: int
    suggested_num_shards: int
    suggested_salt_factor: int
    suggested_shuffle_partitions: int


def estimate_build(
    n_docs: int,
    avgdl: float,
    executor_mem_bytes: int = 4 << 30,
    target_task_bytes: int = 256 << 20,
    cores: int = 32,
) -> BuildEstimate:
    """Closed-form sizing from two corpus statistics (N, avgdl).

    distinct-terms-per-doc ~ 0.75*avgdl on natural text (duplicate tokens);
    the head term's posting list is <= n_docs entries, and a merge task
    handles one (term, shard), so the shard count is what bounds task
    memory: shards >= head_postings * raw_bytes / target_task_bytes.
    """
    postings_per_doc = max(1.0, 0.75 * avgdl)
    total_postings = int(n_docs * postings_per_doc)
    head_postings = n_docs  # worst case: a term in every doc
    min_shards = max(
        1, int(head_postings * BYTES_PER_POSTING_RAW * OVERHEAD
               // target_task_bytes) + 1
    )
    num_shards = max(min_shards, cores)
    salt = max(2, min(16, cores * 4 // num_shards or 2))
    runs_bytes = int(total_postings * BYTES_PER_POSTING_RAW * OVERHEAD)
    return BuildEstimate(
        total_postings=total_postings,
        runs_shuffle_bytes=runs_bytes,
        index_bytes=int(total_postings * BYTES_PER_POSTING_COMPRESSED),
        max_merge_task_postings=head_postings // num_shards + 1,
        max_merge_task_bytes=int(
            head_postings // num_shards * BYTES_PER_POSTING_RAW * OVERHEAD
        ),
        suggested_num_shards=num_shards,
        suggested_salt_factor=salt,
        suggested_shuffle_partitions=max(cores, num_shards * salt),
    )


def auto_params(n_docs: int, avgdl: float, cores: int = 32) -> BuildParams:
    """Parameter derivation from table stats — the analog of
    n_lists = floor(sqrt(doc_count)) (index_builder_utils.py:29-41)."""
    est = estimate_build(n_docs, avgdl, cores=cores)
    buckets = max(16, min(4096, int(n_docs ** 0.5) // 8 or 16))
    groups = min(8, est.suggested_num_shards)
    return BuildParams(
        num_shards=est.suggested_num_shards,
        salt_factor=est.suggested_salt_factor,
        num_term_buckets=buckets,
        lineage_groups=groups,
    )


@dataclass
class AnnParams:
    n_centroids: int
    sample_size: int
    n_probe: int


def auto_ann_params(n_vecs: int) -> AnnParams:
    """IVF parameter derivation from corpus size — the direct analog of the
    reference's n_lists = floor(sqrt(doc_count)) rule
    (core/index_builder/index_builder_utils.py:29-41).

    - n_centroids = max(16, floor(sqrt(n))): sqrt balances list length
      (n/k vectors scanned per probed list) against probe fan-out (k lists
      ranked per query) — at 10^9 vectors that is ~31.6k lists of ~31.6k
      vectors, so a 32-probe search reads ~1e-3 of the corpus instead of
      the 1/16 a fixed k=16 would leave us with.
    - sample_size >= 32 points per centroid (k-means needs cluster mass),
      floor 4096, cap 1<<20 — the cap bounds DRIVER memory (the sample is
      the only thing collected; ~1M * dim * 8 B) exactly like the
      reference's trainset_fraction knob (benchmarking/benchmarks.yml).
    - n_probe = max(4, floor(sqrt(n_centroids))): the recall/latency
      default; callers sweep it against the bench recall curve (the
      ef_search sweep analog) when they need a recall target.
    """
    import math

    n_centroids = max(16, math.isqrt(max(0, n_vecs)))
    sample_size = min(max(4096, 32 * n_centroids), 1 << 20)
    n_probe = max(4, math.isqrt(n_centroids))
    return AnnParams(n_centroids, sample_size, n_probe)


def admission_check(
    est: BuildEstimate, executor_mem_bytes: int = 4 << 30
) -> tuple[bool, str]:
    """The 507-capacity analog (app/routes/build.py 507 on insufficient
    memory): refuse a plan whose largest task can't fit."""
    if est.max_merge_task_bytes > executor_mem_bytes // 2:
        return (
            False,
            f"largest merge task needs ~{est.max_merge_task_bytes >> 20} MiB "
            f"(> half of executor {executor_mem_bytes >> 20} MiB); "
            "raise num_shards",
        )
    return True, "ok"
