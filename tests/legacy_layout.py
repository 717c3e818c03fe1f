"""Test helper: turn a freshly built index into one written by an engine
before 0.10, so the refusals and the compaction migration can be tested
against real files without keeping an old writer in the engine.

``rewrite_as_legacy(index_dir, layout)`` rewrites, in place:

- every posting block into the 0.9 column set and order: the doc-length
  stream ``dls_vbyte`` and the block bound columns (``last_doc``,
  ``max/min_tf_norm`` under the build's k1/b/avgdl, ``max/min_tf``,
  ``min/max_dl``) are added back. Layout 2 keeps the
  ``postings/group=G/term_bucket=B/shard_id=S/`` depth; layout 1 drops
  the ``shard_id`` level and stores shard_id as a data column;
- ``doc_stats`` files one level up, to ``doc_stats/group=G/``;
- ``term_stats`` with its ``max_tf_norm`` column;
- the manifest's ``posting_layout``."""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkbm25.codecs import decode_blocks, vbyte_encode

LEGACY_BLOCK_SCHEMA = pa.schema([
    ("term", pa.string()), ("shard_id", pa.int64()),
    ("block_id", pa.int32()), ("n_docs", pa.int32()),
    ("first_doc", pa.int64()), ("last_doc", pa.int64()),
    ("max_tf_norm", pa.float64()), ("min_tf_norm", pa.float64()),
    ("sum_tf", pa.int64()), ("max_tf", pa.int64()), ("min_tf", pa.int64()),
    ("min_dl", pa.int64()), ("max_dl", pa.int64()),
    ("docs_vbyte", pa.binary()), ("tfs_vbyte", pa.binary()),
    ("dls_vbyte", pa.binary()), ("pos_vbyte", pa.binary()),
])


def _dir_keys(path: str) -> dict[str, str]:
    return dict(seg.split("=", 1) for seg in path.split(os.sep) if "=" in seg)


def _drop(path: str) -> None:
    """Remove a parquet file and the checksum file Spark wrote beside it."""
    d, name = os.path.split(path)
    for p in (path, os.path.join(d, f".{name}.crc")):
        if os.path.exists(p):
            os.remove(p)


def _read(path: str) -> pa.Table:
    with pq.ParquetFile(path) as f:
        return f.read()


def _legacy_blocks(t: pa.Table, shard: int, lens: dict, k1: float,
                   b: float, avgdl: float) -> pa.Table:
    post = decode_blocks(t.column("n_docs"), t.column("docs_vbyte"),
                         tfs=t.column("tfs_vbyte"))
    dls = np.array([lens[int(i)] for i in post.ids], dtype=np.int64)
    starts, ends = post.row_off[:-1], post.row_off[1:]
    tfn = post.tfs * (k1 + 1.0) / (
        post.tfs + k1 * (1.0 - b + b * dls / avgdl)
    )
    cols = {
        "term": t.column("term"),
        "shard_id": pa.array(np.full(t.num_rows, shard), pa.int64()),
        "block_id": t.column("block_id"),
        "n_docs": t.column("n_docs"),
        "first_doc": t.column("first_doc"),
        "last_doc": pa.array(post.ids[ends - 1]),
        "max_tf_norm": pa.array(np.maximum.reduceat(tfn, starts)),
        "min_tf_norm": pa.array(np.minimum.reduceat(tfn, starts)),
        "sum_tf": t.column("sum_tf"),
        "max_tf": pa.array(np.maximum.reduceat(post.tfs, starts)),
        "min_tf": pa.array(np.minimum.reduceat(post.tfs, starts)),
        "min_dl": pa.array(np.minimum.reduceat(dls, starts)),
        "max_dl": pa.array(np.maximum.reduceat(dls, starts)),
        "docs_vbyte": t.column("docs_vbyte"),
        "tfs_vbyte": t.column("tfs_vbyte"),
        "dls_vbyte": pa.array(
            [vbyte_encode(dls[lo:hi]) for lo, hi in zip(starts, ends)],
            pa.binary(),
        ),
        "pos_vbyte": t.column("pos_vbyte"),
    }
    return pa.table(
        [cols[f.name] for f in LEGACY_BLOCK_SCHEMA], schema=LEGACY_BLOCK_SCHEMA
    )


def rewrite_as_legacy(index_dir: str, layout: int) -> None:
    assert layout in (1, 2)
    mpath = os.path.join(index_dir, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    k1, b, avgdl = m["build"]["k1"], m["build"]["b"], m["build"]["avgdl"]

    # doc_stats: group=G/shard_id=S/part.parquet -> group=G/S-part.parquet
    lens: dict[str, dict[int, int]] = {}
    ds_root = os.path.join(index_dir, "doc_stats")
    for path in sorted(glob.glob(os.path.join(
            ds_root, "group=*", "shard_id=*", "*.parquet"))):
        keys = _dir_keys(os.path.relpath(path, ds_root))
        t = _read(path)
        lens.setdefault(keys["group"], {}).update(zip(
            t.column("doc_id").to_pylist(), t.column("doc_len").to_pylist()
        ))
        pq.write_table(t, os.path.join(
            ds_root, f"group={keys['group']}",
            f"part-s{keys['shard_id']}-{os.path.basename(path)}",
        ))
    for d in glob.glob(os.path.join(ds_root, "group=*", "shard_id=*")):
        shutil.rmtree(d)

    # postings: add the dropped columns; layout 1 also loses the shard dir
    p_root = os.path.join(index_dir, "postings")
    tf_norm_max: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(
            p_root, "group=*", "term_bucket=*", "shard_id=*", "*.parquet"))):
        keys = _dir_keys(os.path.relpath(path, p_root))
        shard = int(keys["shard_id"])
        new = _legacy_blocks(_read(path), shard, lens[keys["group"]],
                             k1, b, avgdl)
        for term, v in zip(new.column("term").to_pylist(),
                           new.column("max_tf_norm").to_pylist()):
            tf_norm_max[term] = max(v, tf_norm_max.get(term, v))
        shard_dir, name = os.path.split(path)
        if layout == 2:
            pq.write_table(new.drop(["shard_id"]),
                           os.path.join(shard_dir, f"legacy-{name}"))
        else:
            pq.write_table(new, os.path.join(
                os.path.dirname(shard_dir), f"part-s{shard}-{name}"
            ))
        _drop(path)
    if layout == 1:
        for d in glob.glob(os.path.join(
                p_root, "group=*", "term_bucket=*", "shard_id=*")):
            shutil.rmtree(d)

    ts_root = os.path.join(index_dir, "term_stats")
    for path in glob.glob(os.path.join(ts_root, "*.parquet")):
        t = _read(path)
        t = t.append_column("max_tf_norm", pa.array(
            [tf_norm_max[x] for x in t.column("term").to_pylist()],
            pa.float64(),
        ))
        pq.write_table(t, os.path.join(
            ts_root, f"legacy-{os.path.basename(path)}"
        ))
        _drop(path)

    m["build"]["posting_layout"] = layout
    with open(mpath, "w") as f:
        json.dump(m, f, indent=2)
