"""The worker daemon's path filter (no Spark: ``worker_path`` is a pure
function of the path entries, ``SPARK_HOME`` and the installed version).

A fake ``SPARK_HOME`` holds a bundled ``pyspark.zip`` whose
``pyspark/version.py`` declares ``4.1.2``."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from ocr_corrector_spark.pyworker import bundled_pyspark_version, worker_path

VERSION = "4.1.2"


@pytest.fixture
def home(tmp_path):
    lib = tmp_path / "spark-4.1.2-bin" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = '{VERSION}'\n")
    (tmp_path / "spark").symlink_to(tmp_path / "spark-4.1.2-bin")
    return str(tmp_path / "spark")


def _entries(home):
    lib = os.path.join(home, "python", "lib")
    return [
        "/work/cwd",
        "/tmp/spark-1/userFiles-2",
        os.path.join(lib, "pyspark.zip"),
        os.path.join(lib, "py4j-0.10.9.9-src.zip"),
        os.path.join(os.path.realpath(home), "jars", "spark-core_2.13-4.1.2.jar"),
        "/work/deps/user_lib.zip",
        "/usr/lib/python3.11/site-packages",
    ]


def test_jar_and_bundled_zip_are_dropped_on_equal_versions(home):
    entries = _entries(home)
    assert worker_path(entries, home, VERSION) == [
        entries[0], entries[1], entries[3], entries[5], entries[6]
    ]


def test_bundled_zip_is_matched_through_symlinks(home):
    # Spark names the zip under SPARK_HOME as given and the jar by its
    # resolved path; either spelling of the zip is the bundled one
    real_zip = os.path.join(os.path.realpath(home), "python", "lib", "pyspark.zip")
    assert worker_path([real_zip, "/x"], home, VERSION) == ["/x"]
    assert worker_path(_entries(home)[2:3], os.path.realpath(home), VERSION) == []


@pytest.mark.parametrize("installed", ["4.0.1", "4.1.2.dev0", None])
def test_bundled_zip_stays_on_mismatch_or_without_pyspark(home, installed):
    entries = _entries(home)
    assert worker_path(entries, home, installed) == entries[:4] + entries[5:]


def test_without_spark_home_only_the_jar_goes(home):
    entries = _entries(home)
    assert worker_path(entries, None, VERSION) == entries[:4] + entries[5:]
    # SPARK_HOME with no bundled zip: the zip's version is unknown
    assert worker_path(entries, "/nonexistent", VERSION) == entries[:4] + entries[5:]


@pytest.mark.parametrize(
    "source, version",
    [
        ("__version__: str = '4.1.2'\n", "4.1.2"),
        ('# header\n__version__ = "3.5.0"\n', "3.5.0"),
        ("VERSION = '1'\n", None),
    ],
)
def test_bundled_version_is_read_from_version_py(tmp_path, source, version):
    path = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/version.py", source)
    assert bundled_pyspark_version(str(path)) == version


def test_bundled_version_of_a_missing_or_foreign_archive_is_none(tmp_path):
    assert bundled_pyspark_version(str(tmp_path / "absent.zip")) is None
    (tmp_path / "not_a_zip.zip").write_text("plain")
    assert bundled_pyspark_version(str(tmp_path / "not_a_zip.zip")) is None
    with zipfile.ZipFile(tmp_path / "other.zip", "w") as zf:
        zf.writestr("other/__init__.py", "")
    assert bundled_pyspark_version(str(tmp_path / "other.zip")) is None


def _ipc_stream(batches) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batches[0].schema) as writer:
        for batch in batches:
            writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


# runs the single crossing's body over the Arrow batches on stdin, as a
# worker reads them from Spark, then prints whether pandas was imported
_UDF_BODY = """
import sys
import pyarrow as pa
from ocr_corrector_spark.operators.correct import correct_arrow, correction_config
cfg = correction_config()
rows = 0
for batch in pa.ipc.open_stream(sys.stdin.buffer.read()):
    for part in (batch, batch.slice(1)):
        rows += len(correct_arrow(cfg, *part.columns))
print(rows, 'pandas' in sys.modules)
"""


def test_the_correction_module_leaves_pandas_out():
    # the single crossing's workers import this module and run its body;
    # only the staged pandas UDFs need pandas (about 0.3 s and 40 MB per
    # fresh worker).  pyarrow's to_numpy and pa.array import it, so the
    # body must use neither; the batches come in as a worker gets them
    import pyarrow as pa

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import sys, ocr_corrector_spark.operators.correct; print('pandas' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    ).stdout
    assert out.split()[-1] == "False"

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["<p>宋还本全</p>", None, "我爱北京大安门", "", "宋还本全"]),
            pa.array(
                [[0.5, None], None, [0.99] * 4 + [0.56] + [0.99] * 2, [], [0.5, 0.99, 0.99, 0.5]],
                pa.list_(pa.float64()),
            ),
            pa.array(["report", "doc", "doc", None, "report"]),
        ],
        ["text", "probs", "biz"],
    )
    dedup = pa.RecordBatch.from_arrays(
        [batch.column(0), pa.array([[0], None, [4], [], [0, 3]], pa.list_(pa.int32())),
         batch.column(2)],
        ["text", "errk", "biz"],
    )
    outputs = []
    for batches in ([batch, batch], [dedup]):
        outputs.append(subprocess.run(
            [sys.executable, "-c", _UDF_BODY], cwd=repo, input=_ipc_stream(batches),
            capture_output=True, check=True,
        ).stdout.decode().split())
    assert outputs == [["18", "False"], ["9", "False"]]
