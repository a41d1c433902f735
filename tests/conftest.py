import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_corrector_spark.session import get_spark

    # session-unique warehouse: the in-memory catalog is fresh per session
    # but a fixed warehouse DIRECTORY persists across runs, and managed
    # tables refuse locations that already exist (LOCATION_ALREADY_EXISTS)
    wh = tempfile.mkdtemp(prefix="spark_graft_test_wh_")
    s = get_spark(
        app_name="tests",
        # static conf — must be set at session creation; managed tables
        # (bucketing tests) must never land inside the repo's cwd
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()
    shutil.rmtree(wh, ignore_errors=True)
