"""sf1 (5.5M-turn) bench points for the round-5/6 query surfaces
(r05 verdict #5): phrase / facets / fuzzy / prefix / boolean-pruned /
indexed BM25F / filtered (side-grouped direct), at a small and a big
scale so each surface gets a 10x-linearity reading.

One positional index with stored attrs serves every surface (the
production shape: a single artifact, all query classes). Emits one JSON
line; linearity_x = big_wall / (10 * small_wall) — <= ~0.2 expected for
indexed paths (query cost tracks matched postings, not corpus), <= 2.0
is the committed bound.

Usage: python tools/sf1_query_surfaces.py [small_convs] [big_convs] [cpus]
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkbm25.build import BuildParams  # noqa: E402
from sparkbm25.corpus import add_doc_id  # noqa: E402
from sparkbm25.fixtures import make_queries, make_transcripts_df  # noqa: E402
from sparkbm25.jobs import Index, build_index  # noqa: E402
from sparkbm25.memprof import MemorySampler  # noqa: E402
from sparkbm25.session import get_spark  # noqa: E402


def corpus_path(spark, n_convs: int) -> str:
    path = f"/tmp/sparkbm25_scale/transcripts_{n_convs}.parquet"
    if not os.path.exists(path):
        make_transcripts_df(spark, n_convs).write.mode("overwrite").parquet(
            path
        )
    return path


def bench_scale(spark, n_convs: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from sparkbm25.bm25f import bm25f_score_topk
    from sparkbm25.facets import index_facets
    from sparkbm25.index_query import (
        index_bm25f_search,
        index_fuzzy_search,
        index_phrase_search,
        index_prefix_search,
        index_search,
    )

    cp = corpus_path(spark, n_convs)
    corpus = add_doc_id(spark.read.parquet(cp), "conv_seq").select(
        "doc_id", "text", "role", "conv_id",
        F.length("text").alias("n_chars"),
    )
    n_turns = corpus.count()
    out = {"n_turns": n_turns}
    # ixq2: r06-late attrs (conv_id for collapse, n_chars for histogram/
    # stats) — a distinct dir so pre-existing ixq_ artifacts don't serve
    # a schema missing them
    ix_dir = f"/tmp/sparkbm25_scale/ixq2_{n_convs}_{cpus}"
    params = BuildParams(
        num_shards=max(cpus, 8), salt_factor=4, num_term_buckets=32,
        lineage_groups=1, doc_id_scheme="conv_seq",
        store_positions=True, attr_cols=("role", "conv_id", "n_chars"),
    )
    if not os.path.exists(os.path.join(ix_dir, "manifest.json")):
        shutil.rmtree(ix_dir, ignore_errors=True)
        t0 = time.time()
        with MemorySampler() as ms:
            build_index(corpus, ix_dir,
                        params, source_fingerprint=cp)
        out["build_s"] = round(time.time() - t0, 2)
        out["build_turns_per_sec"] = round(n_turns / out["build_s"], 1)
        out["build_peak_rss_mb"] = ms.peak_mb
    ix = Index(spark, ix_dir)
    queries = make_queries(100)

    # deterministic phrases: leading trigrams of spread-out docs
    sample = (
        corpus.filter(F.col("doc_id") % max(n_turns // 20, 1) == 0)
        .select("text").limit(20).collect()
    )
    phrases = [(i, " ".join(r.text.split()[:3])) for i, r in enumerate(sample)]
    stems = sorted({q.split()[0][:3] for _, q in queries})[:20]

    def t(fn, *a, **kw):
        fn(*a, **kw).count()  # warm not separated: surfaces share scans
        t0 = time.time()
        fn(*a, **kw).count()
        return round(time.time() - t0, 3)

    out["phrase20_s"] = t(index_phrase_search, ix, phrases, k=10)
    out["facets_s"] = t(index_facets, ix, queries[:20], by="role")
    out["fuzzy20_s"] = t(index_fuzzy_search, ix,
                         [(i, s[:-1] + "x") for i, s in enumerate(stems)],
                         k=10, max_dist=1, max_expansions=16)
    out["prefix20_s"] = t(index_prefix_search, ix,
                          [(i, s + "*") for i, s in enumerate(stems)],
                          k=10, max_expansions=16)
    out["and20_blockmax_s"] = t(index_search, ix, queries[:20], k=10,
                                mode="and", strategy="blockmax")
    out["and20_sharded_s"] = t(index_search, ix, queries[:20], k=10,
                               mode="and")
    out["bm25f20_indexed_s"] = t(index_bm25f_search, ix, queries[:20], k=10)
    out["filtered20_sidedirect_s"] = t(index_search, ix, queries[:20],
                                       k=10, where={"role": "user"})
    # r06-late surfaces: interval-pruned blockmax, field collapsing,
    # cursor pagination, histogram + stats aggregations
    from sparkbm25.facets import index_histogram, index_stats

    out["blockmax20_s"] = t(index_search, ix, queries[:20], k=10,
                            strategy="blockmax")
    out["collapse20_s"] = t(index_search, ix, queries[:20], k=10,
                            collapse="conv_id")
    page1: dict[int, list] = {}
    for r in index_search(ix, queries[:20], k=10).collect():
        page1.setdefault(r.query_id, []).append((r.score, r.doc_id))
    cursors = {q: rs[-1] for q, rs in page1.items() if len(rs) == 10}
    qs2 = [(q, txt) for q, txt in queries[:20] if q in cursors]
    out["page2_after20_s"] = t(index_search, ix, qs2, k=10,
                               search_after=cursors)
    out["histogram20_s"] = t(index_histogram, ix, queries[:20],
                             on="n_chars", width=50)
    out["stats20_s"] = t(index_stats, ix, queries[:20], on="n_chars")
    if n_convs >= 100_000:  # corpus-scan comparison only at the big point
        out["bm25f20_scan_s"] = t(bm25f_score_topk,
                                  corpus.select("doc_id", "text"),
                                  queries[:20], k=10)
    return out


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("sf1-query-surfaces", cores=cpus,
                      shuffle_partitions=cpus)
    res = {"cpus": cpus,
           "small": bench_scale(spark, small, cpus),
           "big": bench_scale(spark, big, cpus)}
    ratio = big / small
    lin = {}
    for k, v in res["big"].items():
        sv = res["small"].get(k)
        if k.endswith("_s") and sv:
            lin[k] = round(v / (ratio * sv), 3)
    res["linearity_x"] = lin
    res["scale_ratio"] = ratio
    print(json.dumps(res))


if __name__ == "__main__":
    main()
