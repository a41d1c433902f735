import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_corrector_spark.session import get_spark

    # a session-unique warehouse outside the repo: the catalog's default
    # database directory must not land in the cwd (a static conf, so it is
    # set at session creation)
    wh = tempfile.mkdtemp(prefix="spark_graft_test_wh_")
    s = get_spark(
        app_name="tests",
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()
    shutil.rmtree(wh, ignore_errors=True)
