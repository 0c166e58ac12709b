"""North-rule submission contract: the pipeline must run via
`spark-submit --py-files gitnexus_spark.zip jobs/run_pipeline.py`.

The test copies ONLY the job script into a temp dir and submits from
there — every gitnexus_spark import must resolve from the zip, exactly
as on a cluster where executors/driver have no repo checkout."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def test_pyfiles_zip_deterministic(tmp_path):
    from tools.make_pyfiles_zip import build

    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read()
    import zipfile

    names = zipfile.ZipFile(z1).namelist()
    assert "gitnexus_spark/plans/pipeline.py" in names
    assert not any("__pycache__" in n for n in names)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path, sf_dir):
    from gitnexus_spark.sources.snapshots import SnapshotWriter
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "gitnexus_spark.zip"))
    job = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), job)
    out_dir = tmp_path / "kg_out"
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    env.pop("PYTHONPATH", None)  # nothing may leak from the repo checkout
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(job),
         "--input", f"synthetic:{sf_dir}", "--output", str(out_dir)],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["docs"] > 0 and res["triples"] > 0
    assert all(v == 0 for v in res["integrity"].values())
    assert SnapshotWriter(spark).exists(str(out_dir / "nodes"))
