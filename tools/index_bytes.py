"""Where an index directory's bytes go: per tree (postings, doc_stats,
term_stats, tombstones, the rest) and, inside each tree's parquet files,
per column (compressed column-chunk bytes from the footers; a file's
footer and page headers outside the chunks count as ``(footer)``).
``index_bytes_per_posting`` divides every byte under the directory by
the manifest's ``total_postings``, the way the benchmark counts it.

Usage:
    python tools/index_bytes.py INDEX_DIR
    python tools/index_bytes.py --seed 20001   # builds the benchmark's
        # 1,000-conversation search index (perfbench inputs and build
        # parameters) in a temporary directory first, then measures it

Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORES = 4
CONVS = 1000


def measure(index_dir: str) -> dict:
    import pyarrow.parquet as pq

    trees: dict[str, int] = defaultdict(int)
    cols: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    files: dict[str, int] = defaultdict(int)
    for d, _, names in os.walk(index_dir):
        rel = os.path.relpath(d, index_dir)
        tree = "(root)" if rel == "." else rel.split(os.sep)[0]
        for name in names:
            path = os.path.join(d, name)
            size = os.path.getsize(path)
            trees[tree] += size
            if not name.endswith(".parquet"):
                cols[tree]["(non-parquet files)"] += size
                continue
            files[tree] += 1
            md = pq.read_metadata(path)
            in_chunks = 0
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    cols[tree][c.path_in_schema] += c.total_compressed_size
                    in_chunks += c.total_compressed_size
            cols[tree]["(footer)"] += size - in_chunks
    total = sum(trees.values())
    with open(os.path.join(index_dir, "manifest.json")) as f:
        postings = json.load(f)["metrics"]["total_postings"]

    def share(n: int) -> float:
        return round(n / total, 4)

    return {
        "index_dir": index_dir,
        "total_bytes": total,
        "total_postings": postings,
        "index_bytes_per_posting": round(total / postings, 4),
        "trees": {
            t: {"bytes": n, "share": share(n), "parquet_files": files[t]}
            for t, n in sorted(trees.items())
        },
        "columns": {
            t: {
                c: {"bytes": n, "share": share(n)}
                for c, n in sorted(cs.items(), key=lambda kv: -kv[1])
            }
            for t, cs in sorted(cols.items())
        },
    }


def build_bench_index(seed: int, work: str) -> str:
    os.environ.setdefault("SPARKBM25_DRIVER_MEM", "3g")
    from perfbench.bm25bench import inputs
    from perfbench.bm25bench.workloads import build_params
    from sparkbm25 import jobs
    from sparkbm25.session import get_spark

    spark = get_spark("index_bytes", cores=CORES)
    path = os.path.join(work, "corpus.parquet")
    inputs.write_parquet(inputs.transcripts(CONVS, seed), path)
    ix_dir = os.path.join(work, "index")
    jobs.build_index(spark.read.parquet(path), ix_dir, build_params(CORES),
                     f"{path}:{seed}")
    spark.stop()
    return ix_dir


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("index_dir", nargs="?")
    ap.add_argument("--seed", type=int, default=None,
                    help="build the benchmark search index of this seed")
    args = ap.parse_args()
    if (args.index_dir is None) == (args.seed is None):
        ap.error("give an INDEX_DIR or --seed, not both")
    if args.seed is None:
        print(json.dumps(measure(args.index_dir), indent=1))
        return 0
    work = tempfile.mkdtemp(prefix="index_bytes_")
    try:
        out = measure(build_bench_index(args.seed, work))
        out["index_dir"] = f"benchmark search index, seed {args.seed}"
        print(json.dumps(out, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
