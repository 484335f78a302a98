import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from benthos_spark.session import get_spark

    s = get_spark(app_name="benthos_spark_tests")
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="bspark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# test modules whose cases are read from the reference source tree; without
# it they collapse to a skip, so the summary names what went unchecked
REFERENCE_GATED = ("test_awk_reference.py", "test_golden_corpus.py", "test_golden_on_spark.py")


def pytest_terminal_summary(terminalreporter):
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if r.nodeid.split("::")[0].endswith(REFERENCE_GATED)
    ]
    terminalreporter.write_line(
        f"reference-gated: {len(skipped)} skipped for lack of the reference "
        f"source tree in {', '.join(REFERENCE_GATED)}"
    )
