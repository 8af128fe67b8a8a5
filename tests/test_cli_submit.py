"""spark-submit --py-files integration: the north rule's launch surface.

Packages ``centrality_gpu_spark/`` into a zip, then runs a real
``spark-submit --py-files cgs.zip job.py`` in a subprocess from a
scratch cwd with no PYTHONPATH — the imports must resolve from the zip
exactly as they would on a cluster submit. The job is the cli runner
(``centrality_gpu_spark.cli``) doing PageRank over a reference sample
edge list; the test checks the output parquet + _metrics.json and that
the ranks match an in-session run to 1e-9.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest
from pyspark.sql import functions as F

from tests.conftest import SAMPLE_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
SAMPLE = f"{SAMPLE_DIR}/test4.txt"

LAUNCHER = """\
from centrality_gpu_spark.cli import main
main()
"""


def _build_zip(dest: str) -> str:
    pkg = os.path.join(REPO, "centrality_gpu_spark")
    zpath = os.path.join(dest, "cgs.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_py_files_pagerank(spark, tmp_path):
    zpath = _build_zip(str(tmp_path))
    job = tmp_path / "job.py"
    job.write_text(LAUNCHER)
    out_dir = str(tmp_path / "ranks_out")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_MASTER"] = "local[2]"
    env["SPARK_DRIVER_MEM"] = "4g"
    env["PYSPARK_PYTHON"] = sys.executable
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", zpath,
            str(job),
            "pagerank",
            "--input", SAMPLE,
            "--input-format", "edgelist",
            "--mode", "sql",
            "--fixed-iterations", "3",
            "--output", out_dir,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert os.path.exists(os.path.join(out_dir, "_metrics.json"))
    with open(os.path.join(out_dir, "_metrics.json")) as f:
        metrics = json.load(f)
    assert metrics["algorithm"] == "pagerank"

    # ranks from the submitted job == in-session run (same recurrence)
    from centrality_gpu_spark.operators.pagerank import pagerank
    from centrality_gpu_spark.sources.edgelist import read_edge_list

    got = {
        r.id: r.rank
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        r.id: r.rank
        for r in pagerank(
            read_edge_list(spark, SAMPLE), fixed_iterations=3, mode="sql"
        ).collect()
    }
    assert set(got) == set(exp) and len(got) > 0
    for v, rk in exp.items():
        assert abs(got[v] - rk) < 1e-9, v
    shutil.rmtree(out_dir, ignore_errors=True)
