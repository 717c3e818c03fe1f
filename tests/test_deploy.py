"""Deployment probe — the north rule's launch mode, as a permanent test:
`spark-submit --py-files sparkbm25.zip driver.py` with the repo NOT on the
driver's sys.path, proving the packaged zip is self-contained (driver-side
imports AND executor-side kernel imports both resolve from the zip)."""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r"""
import json
# NO repo on sys.path: sparkbm25 must come from the --py-files zip
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
import sparkbm25  # resolved from the zip
from sparkbm25.fixtures import make_transcripts_df
from sparkbm25.corpus import add_doc_id
from sparkbm25.jobs import Index, build_index
from sparkbm25.build import BuildParams
from sparkbm25.index_query import index_search
from sparkbm25.oracle import OracleIndex

df = add_doc_id(make_transcripts_df(spark, 15, seed=4), "conv_seq").select(
    "doc_id", "text")
docs = [(r.doc_id, r.text) for r in df.collect()]
orc = OracleIndex.build(docs)
vocab = sorted(orc.postings)[:4]
queries = [(0, " ".join(vocab[:2])), (1, " ".join(vocab[2:4]))]

d = "IXDIR"
build_index(df, d, BuildParams(num_shards=2, salt_factor=2,
                               num_term_buckets=2, lineage_groups=1),
            "deploy-test")
got = sorted((r.query_id, r.rank, r.doc_id, r.score)
             for r in index_search(Index(spark, d), queries, k=8).collect())
want = sorted(orc.search_all(queries, k=8))
assert got == want, (got[:3], want[:3])
print("DEPLOY_OK " + json.dumps({"rows": len(got), "module": sparkbm25.__file__}))
spark.stop()
"""


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_zip_is_self_contained(tmp_path):
    zip_path = str(tmp_path / "sparkbm25.zip")
    r = subprocess.run(
        [sys.executable, "-m", "sparkbm25.cli", "package", "--out", zip_path],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert r.returncode == 0, r.stderr
    driver_py = tmp_path / "driver.py"
    driver_py.write_text(
        DRIVER.replace("IXDIR", str(tmp_path / "deploy_ix"))
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", zip_path,
         str(driver_py)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    assert r.returncode == 0, r.stdout[-1500:] + r.stderr[-1500:]
    marker = [l for l in r.stdout.splitlines() if l.startswith("DEPLOY_OK")]
    assert marker, r.stdout[-1500:] + r.stderr[-1500:]
    # the module really came from the zip, not the repo checkout
    assert REPO not in marker[0]


ZIP_PROBE = r"""
import os
from sparkbm25.session import _package_zip

a = _package_zip()
st = os.stat(a)
b = _package_zip()
st2 = os.stat(b)
print("ZIP", a, b == a, (st.st_mtime_ns, st.st_ino) == (st2.st_mtime_ns, st2.st_ino))
"""


def test_package_zip_is_per_process(tmp_path):
    """Each driver process writes the shipped zip once, into its own
    directory: two processes on one host get different paths with the
    same basename (neither overwrites the other's zip), and a second
    call in one process returns the same file without rewriting it."""
    env = {**os.environ, "PYTHONPATH": REPO, "TMPDIR": str(tmp_path)}
    outs = []
    for _ in range(2):
        r = subprocess.run([sys.executable, "-c", ZIP_PROBE],
                           capture_output=True, text=True, env=env)
        assert r.returncode == 0, r.stderr
        line = [l for l in r.stdout.splitlines() if l.startswith("ZIP ")]
        _, path, same, unchanged = line[0].split()
        assert same == "True" and unchanged == "True", line
        outs.append(path)
    assert outs[0] != outs[1]
    assert {os.path.basename(p) for p in outs} == {"sparkbm25_pyfiles.zip"}
    assert all(p.startswith(str(tmp_path)) for p in outs)
    # each process removed its own directory at exit
    assert not any(os.path.exists(p) for p in outs)
