"""The worker daemon (``_daemon``) drops Spark's own archives from the
Python workers' path, and only when the rest of the path imports the
same pyspark and a py4j.

Without it every Python task re-reads ``pyspark.zip``'s directory and
the Spark jar's (Python 3.11's ``zipimporter.invalidate_caches``), which
was most of the fixed cost per task.
"""

import os
import subprocess
import sys
import zipfile

import pytest

from hadoop_logfile_inputformat_spark._daemon import pruned_path

_VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, files):
    for name, data in files.items():
        f = root / name
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(data)
    return str(root)


@pytest.fixture
def layout(tmp_path):
    """Spark's worker path in front of a user zip and a site directory
    with an unzipped pyspark and py4j (the local-mode shape)."""
    spark = tmp_path / "spark"
    archives = [
        _zip(
            spark / "python/lib/pyspark.zip",
            {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION},
        ),
        _zip(spark / "python/lib/py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(spark / "jars/spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": b""}),
    ]
    user = _zip(tmp_path / "deps/user_deps.zip", {"userlib/__init__.py": b""})
    site = _tree(
        tmp_path / "site",
        {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION, "py4j/__init__.py": b""},
    )
    return tmp_path, archives, user, site


def test_matching_pyspark_drops_spark_archives_and_keeps_user_zip(layout):
    _, archives, user, site = layout
    path = ["/work", *archives, user, site]
    assert pruned_path(path) == ["/work", user, site]


def test_version_mismatch_leaves_path_unchanged(layout):
    tmp, archives, user, site = layout
    (tmp / "site/pyspark/version.py").write_bytes(b'__version__: str = "4.0.0"\n')
    path = [*archives, user, site]
    assert pruned_path(path) == path


def test_no_unzipped_pyspark_leaves_path_unchanged(layout):
    tmp, archives, user, _ = layout
    only_py4j = _tree(tmp / "other", {"py4j/__init__.py": b""})
    path = [*archives, user, only_py4j]
    assert pruned_path(path) == path


def test_no_unzipped_py4j_leaves_path_unchanged(layout):
    tmp, archives, user, _ = layout
    only_pyspark = _tree(
        tmp / "other", {"pyspark/__init__.py": b"", "pyspark/version.py": _VERSION}
    )
    path = [*archives, user, only_pyspark]
    assert pruned_path(path) == path


def test_path_without_pyspark_zip_is_unchanged(layout):
    _, archives, user, site = layout
    path = [archives[1], user, site]
    assert pruned_path(path) == path


def test_python_workers_hold_no_spark_archive(spark):
    """One Python task reports its path and importer cache: the daemon
    it was forked from dropped every Spark archive and zipimporter."""

    def probe(_):
        import sys

        yield (list(sys.path), sorted({type(v).__name__ for v in sys.path_importer_cache.values()}))

    [(path, importers)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    names = [os.path.basename(p) for p in path]
    assert "pyspark.zip" not in names, path
    assert not [n for n in names if n.endswith(".jar") or n.startswith("py4j-")], path
    assert "zipimporter" not in importers, importers


def test_package_import_loads_no_pyspark():
    """``python -m hadoop_logfile_inputformat_spark._daemon`` imports the
    package first, so the package itself must not import pyspark; its
    two public names still resolve on first use."""
    code = (
        "import sys\n"
        "import hadoop_logfile_inputformat_spark\n"
        "loaded = sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j'))\n"
        "assert not loaded, loaded\n"
        "from hadoop_logfile_inputformat_spark import LogfileDataSource, register_logfile_source\n"
        "assert LogfileDataSource.name() == 'logfile' and callable(register_logfile_source)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    done = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True)
    assert done.returncode == 0, done.stderr
