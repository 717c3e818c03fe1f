"""A/B the interval-pruned dense kernel (strategy='blockmax', clean
shape) against the plain dense kernel (strategy='sharded') — the
round-6 follow-up to BENCH_BOOL_AB.json.

Two corpora, same engine:

1. FIXTURE (prune-hostile): iid-Zipf text, where BENCH_BOOL_AB showed
   the per-block WAND kernel losing at every scale. Claim under test:
   the interval formulation DEGRADES TO PARITY here (the bounds
   analysis returns "nothing excludable" and the dense path runs
   unchanged), instead of WAND's 1.4-6x regressions.
2. SKEWED (prune-friendly): hot-tail tf skew concentrated in the high
   doc-id range — the shape real ranked corpora have (popularity/
   recency clustering). Claim under test: the same strategy WINS
   where decode is on the wall path (pruning skips vbyte decode +
   densified scoring). The pyarrow payload read happens before the
   kernel sees metadata, so pruning only saves decode, which the read +
   per-batch floor dominate at benchable scales (metadata-first payload
   skipping is the known future work).

Usage: python tools/bench_prune_ab.py [--convs 50000] [--skew-docs 550000]
       [--out BENCH_PRUNE_AB.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def best_of(n, fn):
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=50000)
    ap.add_argument("--skew-docs", type=int, default=550000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--no-fixture", action="store_true",
                    help="skewed corpus cells only")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_PRUNE_AB.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparkbm25.build import BuildParams
    from sparkbm25.corpus import add_doc_id
    from sparkbm25.fixtures import make_queries, make_transcripts_df
    from sparkbm25.index_query import index_search
    from sparkbm25.jobs import Index, build_index
    from sparkbm25.session import get_spark

    spark = get_spark("prune-ab", cores=args.cores,
                  shuffle_partitions=args.cores)
    out: dict = {
        "question": ("does the interval-pruned dense kernel hold parity on "
                     "the prune-hostile fixture corpus and win on a "
                     "skewed one?"),
        "host": f"local[{args.cores}], best-of-3 per cell",
    }
    if os.path.exists(args.out):
        # partial re-runs (--no-fixture) refresh cells in place instead
        # of dropping the other corpus's committed numbers
        with open(args.out) as f:
            out = {**json.load(f), **out}
    params = BuildParams(num_shards=32, salt_factor=4, num_term_buckets=32,
                         lineage_groups=1, doc_id_scheme="conv_seq")

    # --- corpus 1: the fixture (prune-hostile iid Zipf) ---
    if args.no_fixture:
        out["fixture_skipped"] = True
    fx_dir = "/tmp/sparkbm25_pruneab/ix_fixture"
    if not args.no_fixture and not os.path.exists(os.path.join(fx_dir, "manifest.json")):
        corpus = add_doc_id(
            make_transcripts_df(spark, args.convs), "conv_seq"
        ).select("doc_id", "text")
        import shutil
        shutil.rmtree(fx_dir, ignore_errors=True)
        build_index(corpus, fx_dir, params, "prune-ab-fixture")
    if not args.no_fixture:
        ix = Index(spark, fx_dir)
        res_fix = {}
        for n in (10, 100):
            qs = make_queries(n)
            for strat in ("sharded", "blockmax"):
                index_search(ix, qs, k=10, strategy=strat).count()  # warm
                res_fix[f"{strat}_n{n}"] = best_of(
                    3,
                    lambda: index_search(ix, qs, k=10, strategy=strat).count(),
                )
        out["fixture_sf_like_s"] = res_fix
        out["fixture_parity_ratio_n100"] = round(
            res_fix["blockmax_n100"] / res_fix["sharded_n100"], 3
        )

    # --- corpus 2: skewed hot-tail tf ---
    sk_dir = f"/tmp/sparkbm25_pruneab/ix_skew_{args.skew_docs}"
    n_docs = args.skew_docs
    if not os.path.exists(os.path.join(sk_dir, "manifest.json")):
        # hot tail: last 2% of doc ids carry tf 40 of each query term;
        # body carries tf 1 — block bounds discriminate, like a corpus
        # clustered by popularity/recency
        hot_from = int(n_docs * 0.98)
        base = spark.range(n_docs).withColumn(
            "conv_id", F.format_string("c%08d", F.col("id"))
        ).withColumn("turn_idx", F.lit(0))
        hot_terms = " ".join(["alpha beta gamma"] * 40)
        cold_terms = "alpha beta gamma"
        text = F.concat_ws(
            " ",
            F.when(F.col("id") >= hot_from, F.lit(hot_terms))
            .otherwise(F.lit(cold_terms)),
            F.format_string("w%04d w%04d",
                            (F.col("id") % 37).cast("int"),
                            ((F.col("id") * 7) % 53).cast("int")),
        )
        corpus = add_doc_id(
            base.withColumn("text", text), "conv_seq"
        ).select("doc_id", "text")
        import shutil
        shutil.rmtree(sk_dir, ignore_errors=True)
        build_index(corpus, sk_dir, params, "prune-ab-skew")
    ixs = Index(spark, sk_dir)
    skew_qs = [(i, q) for i, q in enumerate(
        ["alpha", "beta gamma", "alpha beta", "gamma", "alpha beta gamma"]
        * 4
    )]
    res_skew = {}
    # the direct plan's cost is the pyarrow payload read + the per-batch
    # floor (the prune runs after the read), so decode savings are a
    # fraction of the cell
    for strat in ("sharded", "blockmax"):
        index_search(ixs, skew_qs, k=10, strategy=strat).count()
        res_skew[strat] = best_of(
            3, lambda: index_search(
                ixs, skew_qs, k=10, strategy=strat).count()
        )
    out[f"skewed_{args.skew_docs}_20q_s"] = res_skew
    out["skewed_speedup"] = round(
        res_skew["sharded"] / res_skew["blockmax"], 3
    )

    # sanity: identical results on the skewed corpus
    a = sorted(map(tuple, index_search(
        ixs, skew_qs, k=10, strategy="sharded").collect()))
    b = sorted(map(tuple, index_search(
        ixs, skew_qs, k=10, strategy="blockmax").collect()))
    out["skewed_bit_identical"] = a == b

    # r06-late cells: the masked (tombstoned) and conjunctive shapes now
    # ride the pruned kernel too — measure them on the skew where the
    # bounds have something to exclude (delete INSIDE the hot stripe so
    # theta must be re-certified from masked survivors, the exact shape
    # an unmasked seed would get wrong)
    import shutil as _sh

    from sparkbm25.jobs import delete_docs

    tomb_dir = f"{sk_dir}_tomb10"
    if not os.path.exists(os.path.join(tomb_dir, "manifest.json")):
        _sh.rmtree(tomb_dir, ignore_errors=True)
        _sh.copytree(sk_dir, tomb_dir)
        delete_docs(spark, tomb_dir,
                    [d for d in range(n_docs) if d % 10 == 0])
    tix = Index(spark, tomb_dir)
    res_m: dict = {}
    for label, kw in (
        ("tomb10_sharded", {"strategy": "sharded"}),
        ("tomb10_blockmax", {"strategy": "blockmax"}),
        ("and_sharded", {"strategy": "sharded", "mode": "and"}),
        ("and_blockmax", {"strategy": "blockmax", "mode": "and"}),
    ):
        ixx = tix if label.startswith("tomb") else ixs
        index_search(ixx, skew_qs, k=10, **kw).count()
        res_m[label] = best_of(
            3, lambda: index_search(ixx, skew_qs, k=10, **kw).count()
        )
    out[f"skewed_{args.skew_docs}_masked_20q_s"] = res_m
    ta = sorted(map(tuple, index_search(
        tix, skew_qs, k=10, strategy="sharded").collect()))
    tb = sorted(map(tuple, index_search(
        tix, skew_qs, k=10, strategy="blockmax").collect()))
    out["skewed_tomb10_bit_identical"] = ta == tb

    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
