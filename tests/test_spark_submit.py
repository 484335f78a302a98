"""North-rule deployment shape: the job must run via spark-submit
--py-files (package shipped as a zip, imported on driver + executors).

This is a REAL subprocess spark-submit run — the package is imported from
the zip in a directory where the repo sources are NOT importable, so a
missing file in the artifact fails here, not on a cluster.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    pytest.skip("spark-submit not available")


@pytest.mark.slow
def test_submit_with_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from package_pyfiles import build
    finally:
        sys.path.pop(0)

    zip_path = build(str(tmp_path / "benthos_spark.zip"))
    assert os.path.getsize(zip_path) > 50_000

    # copy the entry script into tmp so the repo itself is NOT on the
    # import path — benthos_spark must resolve from the zip alone
    entry = str(tmp_path / "submit_flagship.py")
    shutil.copyfile(os.path.join(REPO, "scripts", "submit_flagship.py"), entry)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", zip_path,
            entry,
            "--rows", "20000",
            "--shuffle-partitions", "8",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["input_rows"] == 20000
    assert res["rows"] > 0


@pytest.mark.slow
def test_get_spark_keeps_spark_submit_settings(tmp_path):
    """Under spark-submit, get_spark takes the submitted master and memory
    and sizes shuffle partitions from the submitted parallelism."""
    script = tmp_path / "probe.py"
    script.write_text(
        "from benthos_spark.session import get_spark\n"
        "s = get_spark('submit_probe'); sc = s.sparkContext\n"
        "print('PROBE', sc.master, sc.defaultParallelism, "
        "s.conf.get('spark.sql.shuffle.partitions'), sc.getConf().get('spark.driver.memory'))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--driver-memory", "1g", str(script)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("PROBE ")][-1]
    assert line.split()[1:] == ["local[2]", "2", "2", "1g"]
