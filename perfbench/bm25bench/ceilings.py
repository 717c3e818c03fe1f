"""Reference ceilings measured on the same host in the traced run, so each
layer can be read next to the limit its work could reach here."""

from __future__ import annotations

import glob
import os
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from sparkbm25 import codecs
from sparkbm25.analysis import tokens_col


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_s(fn, reps: int = 5) -> float:
    return statistics.median(_timed(fn) for _ in range(reps))


def measure(spark, corpus_path: str, n_turns: int, index_dir: str) -> dict:
    from pyspark.sql import functions as F

    out = {}
    # JVM-only tokenize scan of the corpus: the floor for build stage 1's
    # tokenize work (second pass, so code generation is not counted)
    scan = spark.read.parquet(corpus_path).agg(F.sum(F.size(tokens_col("text"))))
    scan.collect()
    out["ceiling.tokenize_turns_per_s"] = n_turns / _timed(scan.collect)
    out["ceiling.empty_action_s"] = _median_s(lambda: spark.range(1).collect())

    files = glob.glob(os.path.join(index_dir, "postings", "**", "*.parquet"),
                      recursive=True)
    on_disk = sum(os.path.getsize(p) for p in files)
    table = None

    def read():
        nonlocal table
        table = pq.read_table(os.path.join(index_dir, "postings"),
                              columns=["n_docs", "docs_vbyte", "tfs_vbyte"])

    out["ceiling.parquet_read_MBps"] = on_disk / 1e6 / _timed(read)

    # one call over all blocks' payloads joined, as the query kernels decode
    # (per-block calls would measure numpy's per-call overhead instead)
    joined = b"".join(table.column("docs_vbyte").to_pylist()
                      + table.column("tfs_vbyte").to_pylist())
    count = 2 * int(pc.sum(table.column("n_docs")).as_py())
    values = codecs.vbyte_decode(joined, count)
    mb = len(joined) / 1e6
    out["ceiling.vbyte_decode_MBps"] = mb / _median_s(
        lambda: codecs.vbyte_decode(joined, count))
    out["ceiling.vbyte_encode_MBps"] = mb / _median_s(
        lambda: codecs.vbyte_encode_arrays(values))
    if codecs.vbyte_encode(values) != joined:
        raise AssertionError("vbyte round trip of the index's payloads differs")
    return out
