"""Session settings that depend on the master, and the Python daemon a
local master starts (pipeline/pydaemon.py): workers import the installed,
byte-compiled pyspark instead of Spark's source-only pyspark.zip."""

import os
import zipfile
from pathlib import Path

import pyspark
from pyspark.find_spark_home import _find_spark_home

from open_ocr_spark.cli import parse_args
from open_ocr_spark.pipeline.pydaemon import drop_source_zip
from open_ocr_spark.pipeline.session import _master_conf
from open_ocr_spark.pipeline.stages import map_rows

DAEMON = "open_ocr_spark.pipeline.pydaemon"
INSTALLED = Path(pyspark.__file__).parent  # .../site-packages/pyspark


def _fake_zip(tmp_path, version_py: bytes) -> str:
    path = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/version.py", version_py)
    return str(path)


def test_cli_default_master_starts_the_compiled_daemon(monkeypatch):
    for var in ("SPARK_MASTER", "SPARK_SUBMIT", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    conf = _master_conf(parse_args(["--input", "i", "--output", "o"]).master)
    assert conf["spark.master"] == "local[*]"
    assert conf["spark.python.daemon.module"] == DAEMON
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "8m"
    root = Path(conf["spark.executorEnv.PYTHONPATH"])
    assert (root / "open_ocr_spark" / "pipeline" / "pydaemon.py").is_file()


def test_cluster_and_spark_submit_masters_keep_spark_defaults(monkeypatch):
    """No daemon module and no advisory size: Spark's 64 MB stays."""
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert _master_conf(master) == {"spark.master": master}
    # under spark-submit the master comes from the submit conf
    monkeypatch.setenv("SPARK_CONF_DIR", "conf")
    assert _master_conf(None) == {}


def test_zip_of_another_version_stays_on_the_path(tmp_path):
    zipped = _fake_zip(tmp_path, b"__version__: str = '0.0.1'\n")
    path = [zipped, str(INSTALLED.parent)]
    drop_source_zip(path)
    assert path == [zipped, str(INSTALLED.parent)]


def test_zip_of_the_installed_version_leaves_the_path(tmp_path):
    zipped = _fake_zip(tmp_path, (INSTALLED / "version.py").read_bytes())
    path = [zipped, str(INSTALLED.parent)]
    drop_source_zip(path)
    assert path == [str(INSTALLED.parent)]


def test_workers_import_pyspark_from_the_installed_package(spark):
    spark_zip = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    with zipfile.ZipFile(spark_zip) as z:
        same = z.read("pyspark/version.py") == (INSTALLED / "version.py").read_bytes()

    def where(_):
        import pyspark as worker_pyspark

        return [(worker_pyspark.__file__,)]

    [(path,)] = map_rows(spark.range(1), "path string", where).collect()
    if same:
        assert ".zip" not in path and Path(path).parent == INSTALLED
    else:  # the guard keeps Spark's path: its zip comes first
        assert path.startswith(spark_zip)
