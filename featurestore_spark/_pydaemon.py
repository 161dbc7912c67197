"""Spark's Python worker daemon, without Spark's archives on the path.

Spark puts `pyspark.zip`, the py4j zip and the spark-core jar on every
Python worker's PYTHONPATH, and every task's
`pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On CPython 3.11 that re-reads the
directory of every zip importer on the path — one per package imported
from an archive, 16 in all — which costs 115–240 ms per task. When the
installed pyspark has the version of Spark's `pyspark.zip` and pyspark
and py4j both import without the archives, this daemon drops them from
`sys.path` before pyspark is imported, so its forked workers hold no zip
importer. Otherwise the path is left as it is. Either way it then runs
`pyspark.daemon.manager()`.

`session.get_spark` selects it through `spark.python.daemon.module`.
It imports only the standard library until the path is decided.
"""

import importlib.machinery
import os
import sys
import zipimport

_ARCHIVES = (".zip", ".jar")


def worker_path(
    path: list[str],
    archives: list[str],
    installed: str | None,
    shipped: str | None,
    has_py4j: bool,
) -> list[str]:
    """`path` without `archives` when the `installed` pyspark version
    (None: not importable without the archives) equals the `shipped`
    one read from Spark's zip and py4j imports without them
    (`has_py4j`); an unchanged copy of `path` otherwise."""
    if archives and has_py4j and installed is not None and installed == shipped:
        return [p for p in path if p not in archives]
    return list(path)


def _version(source: bytes) -> str | None:
    scope: dict = {}
    exec(source, scope)
    return scope.get("__version__")


def _spark_archives() -> list[str]:
    """The .zip/.jar entries of PYTHONPATH inside SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return []
    home = os.path.realpath(home) + os.sep
    return [
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p.endswith(_ARCHIVES) and os.path.realpath(p).startswith(home)
    ]


def _shipped_version(archives: list[str]) -> str | None:
    for archive in archives:
        try:
            source = zipimport.zipimporter(archive).get_data("pyspark/version.py")
        except (OSError, zipimport.ZipImportError):
            continue
        return _version(source)
    return None


def _installed_version(path: list[str]) -> str | None:
    spec = importlib.machinery.PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, "rb") as f:
            return _version(f.read())
    except OSError:
        return None


def main() -> None:
    archives = _spark_archives()
    rest = [p for p in sys.path if p not in archives]
    path = worker_path(
        sys.path,
        archives,
        _installed_version(rest),
        _shipped_version(archives),
        importlib.machinery.PathFinder.find_spec("py4j", rest) is not None,
    )
    if path != sys.path:
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in archives):
                del sys.path_importer_cache[key]
        sys.path[:] = path
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
