"""Vocabulary-scale bench for prefix/fuzzy expansion (r05 verdict #7).

The preloaded-cache fast path is DISABLED; expansion runs the windowed
plan (term_stats scan + broadcast stem join + per-stem df-desc cap IN
the plan) against a synthetic web-scale vocabulary, so the measured
shape is the 100 TB one: driver receives at most stems × cap rows.

Builds a tiny real index, then overwrites its term_stats artifact with
N synthetic terms (zipf-ish df, realistic length mix) and forces the
lazy path via the manifest's n_terms. Emits one JSON line.

Usage: python tools/bench_vocab_expand.py [n_terms] [cpus]
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkbm25.build import BuildParams  # noqa: E402
from sparkbm25.corpus import add_doc_id  # noqa: E402
from sparkbm25.fixtures import make_transcripts_df  # noqa: E402
from sparkbm25.jobs import Index, build_index  # noqa: E402
from sparkbm25.session import get_spark  # noqa: E402


def main() -> None:
    n_terms = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("vocab-expand-bench", cores=cpus,
                      shuffle_partitions=cpus)
    base = f"/tmp/sparkbm25_bench/vocab_ix_{n_terms}"
    if not os.path.exists(os.path.join(base, "manifest.json")):
        shutil.rmtree(base, ignore_errors=True)
        corpus = add_doc_id(make_transcripts_df(spark, 50),
                            "conv_seq").select("doc_id", "text")
        build_index(corpus, base,
                    BuildParams(num_shards=4, salt_factor=2,
                                num_term_buckets=4, lineage_groups=1,
                                doc_id_scheme="conv_seq"),
                    source_fingerprint="vocabbench")
        # synthetic vocabulary: deterministic pseudo-words, zipf df.
        # xxhash64-derived base36 suffixes give realistic prefix fan-out;
        # lengths 4..16.
        from pyspark.sql import functions as F

        vocab = (
            spark.range(n_terms)
            .withColumn("h", F.abs(F.xxhash64("id")))
            .select(
                F.concat(
                    F.lit("t"),
                    F.substring(
                        F.lower(F.conv(F.col("h").cast("string"), 10, 36)),
                        1, (F.col("id") % 13 + 3).cast("int")),
                ).alias("term"),
                (F.col("h") % 9973 + 1).cast("long").alias("df"),
            )
            .dropDuplicates(["term"])
        )
        vocab.write.mode("overwrite").parquet(
            os.path.join(base, "term_stats")
        )
    ix = Index(spark, base)
    real_n = spark.read.parquet(os.path.join(base, "term_stats")).count()
    # force the big-vocabulary (windowed-plan) path: pretend the vocab
    # exceeds the preload bound, exactly as a web-scale index would
    ix.manifest["build"]["n_terms"] = max(real_n,
                                          ix.STATS_PRELOAD_MAX_TERMS + 1)
    ix._stats_preloaded = False
    ix._stats_cache = {}

    out = {"n_vocab_terms": real_n, "cpus": cpus, "preload": False}
    stems = ["t1a", "t2b", "t3c", "tz", "t9x8", "table", "t00", "t4d2",
             "t5e", "t6f1"]
    # warm (file listing, plan JIT)
    ix.prefix_expand(stems[:2], max_expansions=16)
    t0 = time.time()
    exp = ix.prefix_expand(stems, max_expansions=16)
    out["prefix_expand_10stems_s"] = round(time.time() - t0, 3)
    out["prefix_total_expansions"] = sum(len(v) for v in exp.values())
    t0 = time.time()
    exp = ix.fuzzy_expand(stems, max_dist=1, max_expansions=16)
    out["fuzzy_expand_10stems_s"] = round(time.time() - t0, 3)
    out["fuzzy_total_expansions"] = sum(len(v) for v in exp.values())
    # cap must bind in-plan: driver rows bounded by stems x cap
    assert all(len(v) <= 16 for v in exp.values())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
