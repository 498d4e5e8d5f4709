"""North-rule packaging requirement: the job runs under
``spark-submit --py-files engine.zip`` from a NEUTRAL cwd, so the
package resolves only through the shipped zip (what a real cluster
submit looks like — the Makefile's ``submit-smoke`` as a pytest gate),
and so does one embedding path, whose UDFs import the package on the
workers. A session built with no master keeps the one spark-submit chose."""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files_package(tmp_path):
    from incident_pii_redactor_spark.sources.pages import (
        write_pages_parquet,
    )

    zip_path = str(tmp_path / "engine.zip")
    pkg = os.path.join(REPO, "incident_pii_redactor_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))

    write_pages_parquet(str(tmp_path / "pages.parquet"), 300)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # nothing may leak in from the repo
    out = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         "--conf", "spark.ui.enabled=false",
         os.path.join(REPO, "jobs", "scrub.py"),
         "--input", str(tmp_path / "pages.parquet"),
         "--output", str(tmp_path / "out"),
         "--manifest", str(tmp_path / "mf"),
         "--n-buckets", "4", "--bucket-group-size", "4"],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    import glob

    import pyarrow.parquet as pq

    # the output partitions by _bucket=K: the underscore prefix makes
    # pyarrow.dataset skip the dirs as metadata, so count files directly
    files = glob.glob(str(tmp_path / "out" / "**" / "*.parquet"),
                      recursive=True)
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert n > 0

    # the embedding UDFs call the module-level kernels of
    # functions/similarity.py, so the workers must import the package
    # from the same zip
    script = tmp_path / "emb.py"
    script.write_text(EMB_SCRIPT)
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zip_path,
         "--conf", "spark.ui.enabled=false", str(script)],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "centroids (3, 8) pairs 1" in out.stdout, out.stdout[-2000:]


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_build_session_keeps_spark_submit_master(tmp_path):
    """``build_session()`` with no master runs at the master spark-submit
    was given, not at its ``local[$SPARK_GRAFT_CPUS]`` default."""
    script = tmp_path / "master.py"
    script.write_text(MASTER_SCRIPT)
    out = subprocess.run(
        ["spark-submit", "--master", "local[3]",
         "--conf", "spark.ui.enabled=false", str(script)],
        cwd=str(tmp_path), env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "master local[3]" in out.stdout, out.stdout[-2000:]


MASTER_SCRIPT = """
from incident_pii_redactor_spark.plans import build_session

spark = build_session()
print("master", spark.sparkContext.master)
spark.stop()
"""

EMB_SCRIPT = """
import numpy as np
from pyspark.sql import SparkSession

from incident_pii_redactor_spark.functions.similarity import (
    embedding_near_dup_pairs, kmeans_fit)

spark = SparkSession.builder.getOrCreate()
rng = np.random.RandomState(3)
rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
rows.append((40, [2.0 * x for x in rows[0][1]]))  # cosine 1 to row 0
df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
cents = kmeans_fit(df, k=3, n_iter=2)
pairs = embedding_near_dup_pairs(df, threshold=0.99).collect()
print("centroids", cents.shape, "pairs", len(pairs))
spark.stop()
"""
