"""The Python worker daemon drops Spark's zipped pyspark/py4j only when
the same versions are installed unzipped, and never touches other zips."""

import os
import zipfile

import pyarrow as pa

from a_tree_spark._pyworker import worker_path

VERSIONS = {"pyspark": "__version__: str = '4.1.2'\n", "py4j": "__version__ = '0.10.9.9'\n"}


def _zip(path, files: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as archive:
        for name, text in files.items():
            archive.writestr(name, text)
    return str(path)


def _package_files(package: str, version_py: str) -> dict:
    return {f"{package}/__init__.py": "", f"{package}/version.py": version_py}


def _site(tmp_path, versions: dict) -> str:
    site = tmp_path / "site-packages"
    for package, version_py in versions.items():
        for name, text in _package_files(package, version_py).items():
            (site / name).parent.mkdir(parents=True, exist_ok=True)
            (site / name).write_text(text)
    return str(site)


def _spark_entries(tmp_path) -> list[str]:
    lib = tmp_path / "spark" / "python" / "lib"
    return [
        _zip(lib / "pyspark.zip", _package_files("pyspark", VERSIONS["pyspark"])),
        _zip(lib / "py4j-0.10.9.9-src.zip", _package_files("py4j", VERSIONS["py4j"])),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
             {"org/apache/spark/SparkContext.class": ""}),
    ]


def test_installed_same_version_drops_spark_archives(tmp_path):
    spark_entries = _spark_entries(tmp_path)
    user = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    site = _site(tmp_path, VERSIONS)
    assert worker_path([*spark_entries, user, site]) == [user, site]


def test_version_mismatch_keeps_both_zips(tmp_path):
    path = [*_spark_entries(tmp_path),
            _site(tmp_path, {**VERSIONS, "py4j": "__version__ = '0.10.9.7'\n"})]
    assert worker_path(path) == path


def test_zip_only_layout_keeps_both_zips(tmp_path):
    path = [*_spark_entries(tmp_path), str(tmp_path / "empty")]
    assert worker_path(path) == path


def test_user_zips_are_never_touched(tmp_path):
    user_zips = [
        _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""}),
        _zip(tmp_path / "lib.jar", {"x.class": ""}),
    ]
    assert worker_path(user_zips) == user_zips
    # a user zip that bundles pyspark shadows the installed copy: the
    # first pyspark on the path is zipped, so nothing is dropped
    shadow = _zip(tmp_path / "bundle.zip", _package_files("pyspark", VERSIONS["pyspark"]))
    path = [*_spark_entries(tmp_path), shadow, _site(tmp_path, VERSIONS)]
    assert worker_path(path) == path


def test_workers_import_unzipped_pyspark(spark):
    def origin(batches):
        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"f": pyspark.__file__}])

    files = {r.f for r in spark.range(4, numPartitions=2).mapInArrow(origin, "f string").collect()}
    assert files and not any(".zip" in f for f in files), files
