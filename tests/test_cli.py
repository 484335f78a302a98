"""The ``python -m benthos_spark`` CLI (the reference's ``benthos -c`` /
``benthos lint`` surface) — real subprocess invocations."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GOOD = """
input:
  inline:
    rows:
      - {t: "hello world"}
    schema: t string
pipeline:
  processors:
    - bloblang: |
        up = t.uppercase()
output:
  memory: {}
"""

BAD = """
input:
  nonsense_input: {}
pipeline:
  processors:
    - not_a_processor: {}
output:
  memory: {}
"""


def run_cli(args, cwd=REPO, timeout=180):
    return subprocess.run(
        [sys.executable, "-m", "benthos_spark", *args],
        capture_output=True, text=True, cwd=cwd, timeout=timeout,
    )


class TestCli:
    def test_lint_good(self, tmp_path):
        p = tmp_path / "good.yaml"
        p.write_text(GOOD)
        r = run_cli(["-c", str(p), "--lint"])
        assert r.returncode == 0, r.stderr[-1000:]
        assert "config ok" in r.stdout

    def test_lint_bad_fails_with_messages(self, tmp_path):
        p = tmp_path / "bad.yaml"
        p.write_text(BAD)
        r = run_cli(["-c", str(p), "--lint"])
        assert r.returncode == 1
        assert "lint:" in r.stderr

    def test_run_memory_output(self, tmp_path):
        p = tmp_path / "good.yaml"
        p.write_text(GOOD)
        r = run_cli(["-c", str(p), "--master", "local[2]"])
        assert r.returncode == 0, r.stderr[-2000:]
        assert "HELLO WORLD" in r.stdout
