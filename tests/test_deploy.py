"""Deployment smoke test: the package zipped as README.md says, shipped
with ``spark-submit --py-files`` and nothing on PYTHONPATH, so the
driver and every Python worker import it from the zip alone."""

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")

pytestmark = pytest.mark.skipif(
    shutil.which("zip") is None or not os.path.isfile(SPARK_SUBMIT),
    reason="needs zip and spark-submit")


@pytest.fixture(scope="module")
def erex_zip(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("deploy") / "erex.zip")
    subprocess.run(["zip", "-qr", path, "eventrelationextractor_spark"],
                   cwd=ROOT, check=True)
    return path


def _submit(zip_path, argv, cwd):
    """spark-submit from ``cwd`` (not the repo root, which a worker would
    otherwise import the package from) with PYTHONPATH unset."""
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--py-files", zip_path,
         *argv], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_submit_job_from_zip_writes_triples(erex_zip, tmp_path):
    out = tmp_path / "out"
    summary = _submit(erex_zip, [os.path.join(ROOT, "tools", "submit_job.py"),
                                 str(out), "200"], tmp_path)
    assert summary["docs"] == 200 and summary["triples"] > 0
    assert any(f.endswith(".parquet")
               for _, _, files in os.walk(out) for f in files)


def test_build_session_from_zip_runs_the_worker_module(erex_zip, tmp_path):
    """build_session imported from the zip points the workers at
    erex.zip/eventrelationextractor_spark/_worker, and every task there
    runs the package's worker module, which preloaded the core from the
    zip before the task started."""
    script = tmp_path / "probe_job.py"
    script.write_text(textwrap.dedent("""
        import json
        from eventrelationextractor_spark.spark import session

        def probe(_):
            import sys
            yield ("pyspark_erex_worker" in sys.modules and
                   "eventrelationextractor_spark.core.pipeline" in sys.modules)

        spark = session.build_session(master="local[2]",
                                      shuffle_partitions=2)
        ran = spark.sparkContext.parallelize(range(4), 4) \\
            .mapPartitions(probe).collect()
        print(json.dumps({"worker_dir": session.WORKER_DIR, "ran": ran}))
        spark.stop()
    """))
    got = _submit(erex_zip, [str(script)], tmp_path)
    assert got["worker_dir"] == os.path.join(
        erex_zip, "eventrelationextractor_spark", "_worker")
    assert got["ran"] == [True] * 4
