"""Python worker daemon that imports pyspark from plain directories.

Spark starts its Python workers with the zips from ``$SPARK_HOME/python/lib``
(``pyspark.zip``, the py4j zip) and the ``spark-core`` jar at the head of
``sys.path``. Every task then runs pyspark's ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``; under CPython 3.11 that re-reads
the directory of every archive with a cached ``zipimporter``, 1,328
entries for ``pyspark.zip`` and 5,359 for the jar, about 150-240 ms per
task on 4 CPUs. A pip-installed pyspark has the same modules in a plain
directory, where the call costs about 0.1 ms.

Before it imports pyspark, this module drops each archive on ``sys.path``
that provides no Python module, or whose every top-level package resolves
outside archives to a copy whose ``version.py`` declares the archive's
``__version__``. Any other archive stays. A dropped archive leaves
``sys.path`` and every ``sys.path_importer_cache`` entry at or under it.
Then it runs ``pyspark.daemon.manager()``, which forks the workers.

``session.get_spark`` selects it for local masters through
``spark.python.daemon.module=fourmc_spark._daemon``; a cluster whose
workers can import this package opts in with the same conf. Spark's
planner round trips (``schema``, ``pushFilters``, ``partitions``) start
their workers with the default ``pyspark.daemon`` whatever the conf says,
so they still import from the zip.

Importing this module imports neither pyspark nor anything outside the
standard library.
"""

from __future__ import annotations

import os
import re
import sys

__all__ = ["shed_archives", "main"]

_VERSION = re.compile(
    r"""^__version__\s*(?::[^=]*)?=\s*['"]([^'"]+)['"]""", re.M
)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_packages(path: str) -> dict[str, str | None] | None:
    """The top-level names under which the zip at *path* holds Python
    (``pkg`` for a package, ``mod.py`` for a single module), each mapped
    to the ``__version__`` of its ``version.py``, or None when it has
    none; None when *path* is not a readable zip."""
    import zipfile

    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            tops = {n.partition("/")[0] for n in names
                    if n.endswith((".py", ".pyc"))}
            return {
                t: _version(z.read(f"{t}/version.py").decode("utf-8"))
                if f"{t}/version.py" in names else None
                for t in tops
            }
    except (OSError, UnicodeDecodeError, zipfile.BadZipFile):
        return None


def _dir_version(root: str, pkg: str) -> str | None:
    try:
        with open(os.path.join(root, pkg, "version.py"), encoding="utf-8") as f:
            return _version(f.read())
    except (OSError, UnicodeDecodeError):
        return None


def _shadowed(archive: str, pkg: str, version: str | None, path: list[str],
              archives: dict[str, dict]) -> bool:
    """True iff, with *archive* gone from *path*, *pkg* resolves to a
    plain directory whose ``version.py`` declares *version*."""
    if version is None:
        return False
    for entry in path:
        if entry == archive:
            continue
        if entry in archives:
            if pkg in archives[entry]:
                return False  # another archive would serve it
            continue
        root = entry or os.curdir
        if os.path.isfile(os.path.join(root, pkg, "__init__.py")):
            return _dir_version(root, pkg) == version
    return False


def shed_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Drop from *path*, in place, each archive the module docstring's
    rule drops, and every *importer_cache* key at or under it. Returns
    the dropped archives in *path* order."""
    archives: dict[str, dict] = {}
    for entry in path:
        if entry not in archives and os.path.isfile(entry):
            pkgs = _archive_packages(entry)
            if pkgs is not None:
                archives[entry] = pkgs
    # all() of no packages is True: an archive without Python goes
    dropped = [
        a for a, pkgs in archives.items()
        if all(_shadowed(a, p, v, path, archives) for p, v in pkgs.items())
    ]
    for a in dropped:
        while a in path:
            path.remove(a)
        under = a + os.sep
        for key in [k for k in importer_cache if k == a or k.startswith(under)]:
            del importer_cache[key]
    return dropped


def main() -> None:
    shed_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
