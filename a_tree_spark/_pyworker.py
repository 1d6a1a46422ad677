"""Python worker daemon that imports pyspark from the installed packages.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*.zip`` and the
spark-core jar first on every worker's path. Imported from there, each
task's setup (``importlib.invalidate_caches()`` in ``pyspark.worker_util``)
makes every zipimporter re-read its archive's index: 160-285 ms per task
on Python 3.11. When unzipped pyspark and py4j of the zips' own versions
are importable, this drops Spark's archives from the path and runs
pyspark's daemon; otherwise the path stays as Spark set it.
``engine.session.get_spark`` selects it through
``spark.python.daemon.module``.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _spark_package(entry: str) -> str | None:
    """The package Spark ships in a path entry: 'pyspark' / 'py4j' for
    its zips, '' for the spark-core jar it appends (5k entries, no Python
    modules), None for every other entry."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return "" if name.startswith("spark-core_") and name.endswith(".jar") else None


def _version(text: str) -> str | None:
    match = _VERSION.search(text)
    return match.group(1) if match else None


def _zipped_version(entry: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(entry) as archive:
            return _version(archive.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _unzipped_version(package: str, path: list[str]) -> str | None:
    """Version of the copy of ``package`` that ``path`` imports, if that
    copy is a directory (one inside a zip cannot be opened as a file)."""
    spec = PathFinder.find_spec(package, path)
    home = next(iter(spec.submodule_search_locations or ()), None) if spec else None
    if home is None:
        return None
    try:
        with open(os.path.join(home, "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when each zip has an unzipped
    copy of its own version on the rest of the path; ``path`` unchanged
    otherwise. Other zips and jars are never touched."""
    spark_zips = {e: pkg for e in path if (pkg := _spark_package(e)) is not None}
    rest = [e for e in path if e not in spark_zips]
    if any(spark_zips.values()) and all(
        not pkg or (v := _zipped_version(e, pkg)) is not None
        and v == _unzipped_version(pkg, rest)
        for e, pkg in spark_zips.items()
    ):
        return rest
    return list(path)


def main() -> None:
    dropped = set(sys.path) - set(kept := worker_path(sys.path))
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
