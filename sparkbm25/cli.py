"""spark-submit entry points — the engine's control-plane surface.

The reference exposes its lifecycle over HTTP (POST /_build, GET /_status,
GET /_jobs — app/routes/*, API.md:5-120); a Spark batch engine exposes the
same operations as spark-submit-able subcommands over durable manifests:

    spark-submit --py-files sparkbm25.zip -m sparkbm25.cli build \
        --source /path/transcripts.parquet --index-dir /path/index \
        [--doc-id-scheme conv_seq] [--num-shards 8] ...
    python -m sparkbm25.cli query  --index-dir ... --query "foo bar" [-k 10]
    python -m sparkbm25.cli status --index-dir ...     # == GET /_status
    python -m sparkbm25.cli jobs   --index-root ...    # == GET /_jobs
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def _build(args) -> int:
    from .build import BuildParams
    from .corpus import add_doc_id
    from .jobs import build_index
    from .session import get_spark

    spark = get_spark("sparkbm25-build", cores=args.cores)
    df = spark.read.parquet(args.source)
    if args.doc_id_scheme != "provided":
        df = add_doc_id(df, scheme=args.doc_id_scheme)
    attr_cols = tuple(args.attr_cols.split(",")) if args.attr_cols else ()
    params = BuildParams(
        num_shards=args.num_shards,
        salt_factor=args.salt_factor,
        num_term_buckets=args.num_term_buckets,
        lineage_groups=args.lineage_groups,
        doc_id_scheme=args.doc_id_scheme,
        store_text=args.store_text,
        attr_cols=attr_cols,
    )
    fingerprint = args.fingerprint or args.source
    manifest = build_index(
        df.select("doc_id", "text", *attr_cols), args.index_dir, params,
        fingerprint,
    )
    print(json.dumps({k: manifest[k] for k in ("job_id", "status", "metrics")}, indent=2))
    return 0 if manifest["status"] == "COMPLETED" else 1


def _query(args) -> int:
    from .index_query import index_search
    from .jobs import Index
    from .session import get_spark

    spark = get_spark("sparkbm25-query", cores=args.cores)
    ix = Index(spark, args.index_dir)
    # --where role=user --where lang=en,de  (equality; comma = membership)
    where = None
    if args.where:
        where = {}
        for item in args.where:
            col, _, val = item.partition("=")
            if not _ or not col:
                raise SystemExit(f"--where expects col=value, got {item!r}")
            if col in where:
                raise SystemExit(
                    f"--where given twice for column {col!r}; use a "
                    "comma-separated value list for membership"
                )
            vals = val.split(",")
            where[col] = vals if len(vals) > 1 else vals[0]
    out = index_search(ix, [(0, args.query)], k=args.k,
                       strategy=args.strategy, where=where)
    for r in out.orderBy("rank").collect():
        print(f"{r.rank}\t{r.doc_id}\t{r.score:.6f}")
    return 0


def _delete(args) -> int:
    """Logical document deletes (tombstones): ids inline or from a parquet
    of doc_id; searches exclude them immediately, `compact` reclaims."""
    from .jobs import delete_docs
    from .session import get_spark

    spark = get_spark("sparkbm25-delete", cores=args.cores)
    if args.ids:
        ids = [int(x) for x in args.ids.split(",")]
        m = delete_docs(spark, args.index_dir, ids)
    else:
        m = delete_docs(spark, args.index_dir,
                        spark.read.parquet(args.ids_parquet))
    print(json.dumps({"status": m["status"],
                      "n_deleted": m["metrics"]["n_deleted"]}))
    return 0


def _status(args) -> int:
    from .jobs import read_manifest

    m = read_manifest(args.index_dir)
    if m is None:
        print(json.dumps({"error": "not found"}))  # == 404
        return 1
    print(
        json.dumps(
            {
                "job_id": m["job_id"],
                "status": m["status"],
                "completed_groups": sorted(m["completed_groups"]),
                "error_message": m.get("error_message"),
                "metrics": m.get("metrics", {}),
            },
            indent=2,
        )
    )
    return 0


def _compact(args) -> int:
    """Merge all lineage groups (base + streamed epochs) into one — the
    segment-merge maintenance job (streaming.compact_index)."""
    from .session import get_spark
    from .streaming import compact_index

    spark = get_spark("sparkbm25-compact", cores=args.cores)
    try:
        m = compact_index(spark, args.index_dir)
    finally:
        spark.stop()
    print(json.dumps({
        "status": m["status"],
        "compaction": m.get("metrics", {}).get("compaction"),
    }, indent=2))
    return 0


def _package(args) -> int:
    """Emit the --py-files zip (the deployable artifact for spark-submit)."""
    import shutil

    from .session import _package_zip

    src = _package_zip()
    shutil.copyfile(src, args.out)
    print(json.dumps({"py_files": args.out}))
    return 0


def _heartbeat(args) -> int:
    """Liveness probe — GET /_heart_beat analog (app/routes/heart_beat.py):
    engine importable + version; with --index-dir, also the artifact's
    manifest status. No Spark session."""
    from . import __version__
    from .jobs import read_manifest

    out = {"status": "ok", "version": __version__}
    if getattr(args, "index_dir", None):
        m = read_manifest(args.index_dir)
        out["index_status"] = m["status"] if m else "NOT_FOUND"
    print(json.dumps(out))
    return 0


def _jobs(args) -> int:
    from .jobs import read_manifest

    out = []
    for p in sorted(glob.glob(os.path.join(args.index_root, "*", "manifest.json"))):
        m = read_manifest(os.path.dirname(p))
        if m:
            out.append({"index_dir": os.path.dirname(p), "job_id": m["job_id"],
                        "status": m["status"]})
    print(json.dumps(out, indent=2))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sparkbm25")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--source", required=True)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--doc-id-scheme", default="provided",
                   choices=["provided", "conv_seq", "hash64", "row_number"])
    b.add_argument("--num-shards", type=int, default=8)
    b.add_argument("--salt-factor", type=int, default=4)
    b.add_argument("--num-term-buckets", type=int, default=32)
    b.add_argument("--lineage-groups", type=int, default=4)
    b.add_argument("--store-text", action="store_true")
    b.add_argument("--attr-cols", default="",
                   help="comma-separated corpus columns stored as filterable "
                        "doc attributes (search-time --where)")
    b.add_argument("--fingerprint", default=None)
    b.add_argument("--cores", type=int, default=None)
    b.set_defaults(fn=_build)

    q = sub.add_parser("query")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--where", action="append", default=None,
                   help="attribute filter col=value (repeatable; "
                        "comma-separated values = membership)")
    q.add_argument("--strategy", default="sharded",
                   choices=["sharded", "blockmax"])
    q.add_argument("--cores", type=int, default=None)
    q.set_defaults(fn=_query)

    dl = sub.add_parser("delete")
    dl.add_argument("--index-dir", required=True)
    g = dl.add_mutually_exclusive_group(required=True)
    g.add_argument("--ids", default=None,
                   help="comma-separated doc ids to tombstone")
    g.add_argument("--ids-parquet", default=None,
                   help="parquet path with a doc_id column")
    dl.add_argument("--cores", type=int, default=None)
    dl.set_defaults(fn=_delete)

    s = sub.add_parser("status")
    s.add_argument("--index-dir", required=True)
    s.set_defaults(fn=_status)

    j = sub.add_parser("jobs")
    j.add_argument("--index-root", required=True)
    j.set_defaults(fn=_jobs)

    c = sub.add_parser("compact")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--cores", type=int, default=None)
    c.set_defaults(fn=_compact)

    p = sub.add_parser("package")
    p.add_argument("--out", default="sparkbm25.zip")
    p.set_defaults(fn=_package)

    h = sub.add_parser("heartbeat")
    h.add_argument("--index-dir", default=None)
    h.set_defaults(fn=_heartbeat)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
