"""Python worker daemon: ``pyspark.daemon`` without Spark's own archives
on the import path.

Spark puts ``pyspark.zip``, the ``py4j-*-src.zip`` and its core jar at
the front of every worker's ``sys.path``. Each task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on Python 3.11 every ``zipimporter`` left in
``sys.path_importer_cache`` re-reads its whole archive directory: one
per pyspark subpackage imported from the zip, plus the jar, 150-370 ms
per task. When the rest of the path imports the same pyspark (a
byte-identical ``pyspark/version.py``) and a py4j, the archives add
nothing, so this entry point drops them before importing pyspark;
otherwise it leaves ``sys.path`` exactly as Spark set it. Any other
archive on the path is kept. ``session.get_spark`` selects this module
(``spark.python.daemon.module``) for ``local[...]`` masters, where the
package root is on every worker's ``PYTHONPATH`` before the daemon
starts.
"""

import os
import sys
import zipfile


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or name.endswith(".jar")
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
    )


def _read(path: str):
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def pruned_path(path: list) -> list:
    """``path`` without Spark's archives when what remains imports a
    pyspark identical to the one in ``pyspark.zip`` and a py4j; else
    ``path`` unchanged. Reads the files it names, changes nothing."""
    rest = [p for p in path if not _is_spark_archive(p)]
    zipped = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zipped:
        return list(path)
    try:
        with zipfile.ZipFile(zipped[0]) as z:
            version = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    # the first unzipped pyspark on the remaining path is the one imported
    pkg = next(
        (p for p in rest if os.path.isfile(os.path.join(p, "pyspark", "__init__.py"))),
        None,
    )
    if pkg is None or _read(os.path.join(pkg, "pyspark", "version.py")) != version:
        return list(path)
    if not any(os.path.isfile(os.path.join(p, "py4j", "__init__.py")) for p in rest):
        return list(path)
    return rest


def main() -> None:
    kept = pruned_path(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    if dropped:
        sys.path[:] = kept
        inside = tuple(p + os.sep for p in dropped)
        for key in list(sys.path_importer_cache):
            if key in dropped or key.startswith(inside):
                del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
