"""The Python-worker daemon of ``session.get_spark`` sessions
(``wikiextractor_spark.daemon``): workers load pyspark from the
installed package, not from Spark's archives, and only when the
installed versions match the archives'."""

from __future__ import annotations

import glob
import os
import zipfile

import pytest

from wikiextractor_spark.daemon import _archive_version, _installed_version, worker_path


def _fake_spark_home(root, pyspark_version: str, py4j_version: str) -> list[str]:
    """A ``SPARK_HOME`` with the two archives and a spark-core jar;
    → their paths."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    (root / "jars").mkdir()
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.0.1-src.zip"),
                str(root / "jars" / "spark-core_2.13-0.0.1.jar")]
    for path, package, version in (
        (archives[0], "pyspark", f"__version__: str = '{pyspark_version}'\n"),
        (archives[1], "py4j", f"__version__ = '{py4j_version}'\n"),
        (archives[2], "org", ""),
    ):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{package}/version.py", version)
    return archives


def _site(root, pyspark_version: str, py4j_version: str) -> str:
    for package, version in (("pyspark", pyspark_version), ("py4j", py4j_version)):
        (root / package).mkdir(parents=True)
        (root / package / "__init__.py").write_text("")
        (root / package / "version.py").write_text(f"__version__ = '{version}'\n")
    return str(root)


def test_worker_path_drops_archives_at_matching_versions(tmp_path):
    archives = _fake_spark_home(tmp_path / "spark", "9.9.9", "0.0.1")
    site = _site(tmp_path / "site", "9.9.9", "0.0.1")
    path = ["", *archives, site]
    assert worker_path(path, str(tmp_path / "spark")) == ["", site]


@pytest.mark.parametrize("installed", [("9.9.8", "0.0.1"), ("9.9.9", "0.0.2")])
def test_worker_path_unchanged_when_installed_version_differs(tmp_path, installed):
    archives = _fake_spark_home(tmp_path / "spark", "9.9.9", "0.0.1")
    site = _site(tmp_path / "site", *installed)
    path = ["", *archives, site]
    assert worker_path(path, str(tmp_path / "spark")) == path


def test_worker_path_unchanged_without_installed_pyspark(tmp_path):
    archives = _fake_spark_home(tmp_path / "spark", "9.9.9", "0.0.1")
    path = [*archives, str(tmp_path)]
    assert worker_path(path, str(tmp_path / "spark")) == path


def test_workers_import_installed_pyspark(spark, tmp_path):
    """Inside a Python task of a ``get_spark`` session: pyspark is not
    loaded from an archive, no ``sys.path`` entry or importer-cache key
    names one of ``SPARK_HOME``'s archives, and a zip shipped with
    ``addPyFile`` still imports."""
    import sys

    spark_home = os.environ.get("SPARK_HOME")
    zips = glob.glob(os.path.join(spark_home or "", "python", "lib", "pyspark.zip"))
    if not zips or _archive_version(zips[0], "pyspark") != _installed_version("pyspark", sys.path):
        pytest.skip("needs SPARK_HOME's pyspark.zip at the installed pyspark's version")
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "wikiextractor_spark.daemon"

    shipped = tmp_path / "shipped_daemon_probe.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("shipped_daemon_probe.py", "VALUE = 42\n")
    sc.addPyFile(str(shipped))

    def probe(_):
        import sys

        import pyspark
        import shipped_daemon_probe

        home = os.environ["SPARK_HOME"]
        archives = [
            *glob.glob(os.path.join(home, "python", "lib", "*.zip")),
            *glob.glob(os.path.join(home, "jars", "spark-core_*.jar")),
        ]
        archives += [os.path.realpath(a) for a in archives]
        named = [
            entry for entry in [*sys.path, *sys.path_importer_cache]
            if any(entry == a or entry.startswith(a + os.sep) for a in archives)
        ]
        yield pyspark.__file__, named, shipped_daemon_probe.VALUE

    for pyspark_file, named, value in sc.parallelize(range(2), 2).mapPartitions(probe).collect():
        assert os.path.isfile(pyspark_file), pyspark_file
        assert named == []
        assert value == 42


def test_daemon_only_where_workers_import_the_package(tmp_path, monkeypatch):
    """A local worker starts in the driver's directory with its
    ``PYTHONPATH``; a driver that found the package some other way
    (a ``sys.path`` insert from another directory) keeps Spark's
    default daemon, which its workers can start."""
    from wikiextractor_spark import session

    root = session._PACKAGE_ROOT
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_package()
