"""Python worker daemon that imports pyspark and py4j from their directories.

Spark puts its archives on every Python worker's path: ``pyspark.zip``,
the py4j source zip and ``spark-core_*.jar``, which holds no Python.  Each
task calls ``importlib.invalidate_caches()``, and that makes every
zipimporter re-read its archive's directory: 120-220 ms of CPU per task.
This daemon drops the archives whose contents are installed, then hands
over to the stock ``pyspark.daemon``; the workers it forks inherit the
shorter path.  ``get_spark`` sets it as ``spark.python.daemon.module`` for
local masters only, where the driver's installed pyspark is on the host.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _version(source: str) -> str | None:
    for line in source.splitlines():
        if line.startswith("__version__"):
            return line.split("=", 1)[1].strip().strip("'\"")
    return None


def kept_entries(
    path: list[str], zip_pyspark: str | None, installed_pyspark: str | None,
    py4j_installed: bool,
) -> list[str]:
    """The entries of ``path`` to keep: a jar never, ``pyspark.zip`` only
    when the installed pyspark is absent or of another version, the py4j
    zip only when py4j is not installed."""
    def keep(entry: str) -> bool:
        name = os.path.basename(entry)
        if name.endswith(".jar"):
            return False
        if name == "pyspark.zip":
            return installed_pyspark is None or installed_pyspark != zip_pyspark
        if name.startswith("py4j") and name.endswith(".zip"):
            return not py4j_installed
        return True

    return [p for p in path if keep(p)]


def main() -> None:
    dirs = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    spec = PathFinder.find_spec("pyspark", dirs)
    installed = None
    if spec is not None:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            installed = _version(f.read())
    zip_version = None
    for p in sys.path:
        if os.path.basename(p) == "pyspark.zip":
            with zipfile.ZipFile(p) as z:
                zip_version = _version(z.read("pyspark/version.py").decode())
    keep = kept_entries(
        sys.path, zip_version, installed, PathFinder.find_spec("py4j", dirs) is not None
    )
    dropped = [p for p in sys.path if p not in keep]
    sys.path[:] = keep
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
