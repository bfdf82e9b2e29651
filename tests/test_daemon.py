"""The worker daemon (fourmc_spark/_daemon.py): which archives it sheds
from ``sys.path``, that task workers import pyspark outside the zip, and
which sessions select it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from fourmc_spark._daemon import shed_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _pkg(root, name: str, version: str | None) -> str:
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    if version is not None:
        (d / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def _cache_for(*entries: str) -> dict:
    """An importer cache with a key at, under and beside each entry."""
    cache = {}
    for e in entries:
        cache[e] = object()
        cache[os.path.join(e, "pkg")] = object()
        cache[e + "x"] = object()  # a sibling path, not under e
    return cache


def test_same_version_shadowed_zip_is_dropped_with_its_importers(tmp_path):
    site = _pkg(tmp_path / "site", "pkg", "4.1.2")
    z = _zip(tmp_path / "pkg.zip", {
        "pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.1.2'\n",
        "pkg/sub/mod.py": "",
    })
    path = [z, site]
    cache = _cache_for(z, site)
    assert shed_archives(path, cache) == [z]
    assert path == [site]
    assert sorted(cache) == sorted(
        [site, os.path.join(site, "pkg"), site + "x", z + "x"]
    )


def test_different_version_zip_leaves_sys_path_untouched(tmp_path):
    site = _pkg(tmp_path / "site", "pkg", "4.1.2")
    z = _zip(tmp_path / "pkg.zip", {
        "pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.0.0'\n",
    })
    path = [z, site]
    cache = _cache_for(z, site)
    before = dict(cache)
    assert shed_archives(path, cache) == []
    assert path == [z, site] and cache == before


def test_zip_without_python_modules_is_dropped(tmp_path):
    jar = _zip(tmp_path / "core.jar", {
        "META-INF/MANIFEST.MF": "", "org/apache/X.class": "",
    })
    path = [jar, str(tmp_path)]
    cache = _cache_for(jar)
    assert shed_archives(path, cache) == [jar]
    assert path == [str(tmp_path)]
    assert list(cache) == [jar + "x"]


@pytest.mark.parametrize("members", [
    # the package has no version.py to compare
    {"pkg/__init__.py": ""},
    # a top-level single module: nothing outside can be compared to it
    {"pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.1.2'\n",
     "helper.py": ""},
    # one of two packages has no copy outside archives
    {"pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.1.2'\n",
     "other/__init__.py": ""},
], ids=["no_version_py", "single_module", "unshadowed_package"])
def test_zip_that_cannot_be_proven_shadowed_is_kept(tmp_path, members):
    site = _pkg(tmp_path / "site", "pkg", "4.1.2")
    z = _zip(tmp_path / "pkg.zip", members)
    path = [z, site]
    assert shed_archives(path, _cache_for(z)) == []
    assert path == [z, site]


def test_zip_whose_package_another_archive_would_serve_is_kept(tmp_path):
    # dropping a.zip would hand pkg to b.zip (4.0.0), not to the 4.1.2
    # directory copy
    site = _pkg(tmp_path / "site", "pkg", "4.1.2")
    a = _zip(tmp_path / "a.zip", {
        "pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.1.2'\n",
    })
    b = _zip(tmp_path / "b.zip", {
        "pkg/__init__.py": "", "pkg/version.py": "__version__ = '4.0.0'\n",
    })
    path = [a, b, site]
    assert shed_archives(path, {}) == []
    assert path == [a, b, site]


def test_importing_the_package_and_daemon_loads_no_pyspark():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, fourmc_spark, fourmc_spark._daemon; "
         "print(sorted(m for m in sys.modules "
         "if m.startswith(('pyspark', 'py4j'))))"],
        cwd=ROOT, capture_output=True, text=True, timeout=60, check=True,
    )
    assert out.stdout.strip() == "[]"


def test_task_workers_import_pyspark_outside_the_zip(spark):
    """The session's task workers run site-packages pyspark and hold no
    zipimporter for an archive the daemon drops."""
    assert spark.sparkContext.getConf().get(
        "spark.python.daemon.module"
    ) == "fourmc_spark._daemon"

    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield (pyspark.__file__, [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ])

    for pyspark_file, zipimporters in (
        spark.sparkContext.parallelize(range(2), 2)
        .mapPartitions(probe).collect()
    ):
        assert ".zip" not in pyspark_file
        assert not [k for k in zipimporters if "pyspark" in k
                    or "py4j" in k or k.endswith(".jar")], zipimporters


def test_daemon_selected_only_for_local_masters_outside_connect(
    monkeypatch, tmp_path
):
    from fourmc_spark.session import _local_workers_import_package as ok

    monkeypatch.chdir(ROOT)
    monkeypatch.delenv("SPARK_REMOTE", raising=False)
    monkeypatch.delenv("SPARK_CONNECT_MODE_ENABLED", raising=False)
    assert ok("local[4]") and ok("local") and ok("local[*]")
    assert not ok("spark://host:7077")
    assert not ok("yarn")
    assert not ok("local-cluster[2,1,1024]")
    monkeypatch.setenv("SPARK_REMOTE", "sc://localhost")
    assert not ok("local[4]")
    monkeypatch.delenv("SPARK_REMOTE")
    # workers start in the driver's directory: from elsewhere, with the
    # package on no path they search, they could not import the daemon
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not ok("local[4]")
    monkeypatch.setenv("PYTHONPATH", ROOT)
    assert ok("local[4]")
