"""Python workers import PySpark from the installed package.

Spark puts ``$SPARK_HOME``'s pyspark.zip, py4j zip and spark-core jar
ahead of site-packages on the workers' path, and every zipimporter they
leave behind is re-read at each runner start. ``worker_daemon`` drops
those archives when the installed PySpark is the same version.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from anti_ddos_spark.worker_daemon import _use_installed_pyspark, spark_archive_free_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_the_installed_pyspark(spark):
    import pandas as pd
    import pyspark

    def probe(it):
        import zipimport

        import pyspark

        for _ in it:
            pass
        home = os.path.realpath(os.environ["SPARK_HOME"])
        zips = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.realpath(k).startswith(home + os.sep)
        ]
        yield pd.DataFrame(
            {"file": [pyspark.__file__], "ver": [pyspark.__version__], "zips": [len(zips)]}
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "file string, ver string, zips int")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert not any(
            os.path.isfile(p) for p in _parents(r["file"])
        ), f"worker imported pyspark from an archive: {r['file']}"
        assert r["zips"] == 0
        assert r["ver"] == pyspark.__version__


def _parents(path):
    while True:
        parent = os.path.dirname(path)
        if parent == path:
            return
        yield parent
        path = parent


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


@pytest.fixture
def layout(tmp_path):
    """A fake $SPARK_HOME with its three archives, a site dir with an
    installed pyspark/py4j, and two zips from outside $SPARK_HOME."""
    home = tmp_path / "spark"
    site = tmp_path / "site"
    pyspark_zip = _zip(
        home / "python/lib/pyspark.zip",
        {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n"},
    )
    py4j_zip = _zip(home / "python/lib/py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(home / "jars/spark-core_2.13-4.1.2.jar", {"org/x.class": ""})
    _write(str(site / "pyspark/__init__.py"), "")
    _write(str(site / "pyspark/version.py"), "__version__: str = '4.1.2'\n")
    _write(str(site / "py4j/__init__.py"), "")
    py_file = _zip(tmp_path / "files/deps.zip", {"deps/__init__.py": ""})
    vendor = _zip(tmp_path / "anti_ddos_vendor_protobuf_1.zip", {"google/__init__.py": ""})
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, py_file, vendor, str(site)]
    return {"home": str(home), "site": site, "path": path, "pyspark_zip": pyspark_zip}


def test_matching_install_drops_only_the_spark_home_archives(layout):
    path, why = spark_archive_free_path(layout["path"], layout["home"])
    assert why is None
    p = layout["path"]
    assert path == [p[0], p[4], p[5], p[6]]


def test_version_mismatch_keeps_the_path(layout):
    _write(str(layout["site"] / "pyspark/version.py"), "__version__: str = '4.0.0'\n")
    path, why = spark_archive_free_path(layout["path"], layout["home"])
    assert path == layout["path"]
    assert "4.0.0" in why and "4.1.2" in why


def test_missing_installed_pyspark_keeps_the_path(layout):
    os.remove(str(layout["site"] / "pyspark/__init__.py"))
    os.remove(str(layout["site"] / "pyspark/version.py"))
    os.rmdir(str(layout["site"] / "pyspark"))
    path, why = spark_archive_free_path(layout["path"], layout["home"])
    assert path == layout["path"]
    assert "pyspark" in why


def test_daemon_path_fix_clears_the_archive_importers(layout, monkeypatch, capsys):
    p = layout["path"]
    zip_pkg = os.path.join(layout["pyspark_zip"], "pyspark", "")
    monkeypatch.setattr(sys, "path", list(p))
    monkeypatch.setattr(sys, "path_importer_cache", {p[1]: object(), zip_pkg: object()})
    monkeypatch.setenv("SPARK_HOME", layout["home"])
    _use_installed_pyspark()
    assert sys.path == [p[0], p[4], p[5], p[6]]
    assert p[1] not in sys.path_importer_cache and zip_pkg not in sys.path_importer_cache
    assert capsys.readouterr().err == ""


def test_daemon_fallback_says_why_on_stderr(layout, monkeypatch, capsys):
    _write(str(layout["site"] / "pyspark/version.py"), "__version__: str = '4.0.0'\n")
    monkeypatch.setattr(sys, "path", list(layout["path"]))
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setenv("SPARK_HOME", layout["home"])
    _use_installed_pyspark()
    assert sys.path == layout["path"]
    err = capsys.readouterr().err
    assert err.count("\n") == 1 and "4.0.0" in err


def test_package_import_loads_no_pyspark():
    out = subprocess.run(
        [sys.executable, "-c", "import anti_ddos_spark, sys; print('pyspark' in sys.modules)"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"
