"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Spark starts one daemon per session and forks every Python worker from it.
Before running ``pyspark.daemon`` this module does two things, once:

1. **Drops Spark's archives from ``sys.path``.**  Spark puts
   ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
   spark-core jar first on the workers' path.  Every task then calls
   ``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
   and on CPython 3.11 each cached ``zipimporter`` re-reads its archive's
   whole directory on that call: 100-240 ms per task for the 1,328-entry
   pyspark zip and the 5,359-entry jar.  When ``pyspark`` and ``py4j`` are
   installed as plain directories and carry the same ``version.py`` as the
   archives, the archives are removed from ``sys.path`` and
   ``sys.path_importer_cache``.  Otherwise the path is left exactly as Spark
   set it.
2. **Pre-imports and freezes.**  ``pandas``, ``pyarrow`` and ``pyspark.worker``
   are imported here (``python -m`` has already run this package's
   ``__init__``, which imports the extraction engine), then ``gc.freeze()``
   moves them out of the collector's reach.  Forked workers start with
   everything imported, and the ``gc.collect()`` the daemon runs after each
   task no longer walks those objects.

Only ``readability_spark.spark.session.engine_conf`` sets this module,
and only for ``local[...]`` masters: a cluster executor may not have the
package installed when its daemon starts (``--py-files`` are added per task).
"""

from __future__ import annotations

import gc
import importlib.machinery
import os
import runpy
import sys
import zipfile

# the packages Spark ships as archives on the workers' path
SPARK_PACKAGES = ("pyspark", "py4j")


def drop_archives(path, importer_cache, archived, installed):
    """The decision of step 1, as a pure function of what was found.

    ``archived`` maps each archive entry of ``path`` that holds no Python
    code outside ``SPARK_PACKAGES`` to ``{package: version.py bytes}`` for
    the packages it holds (None for a package without one).  ``installed``
    maps each package to the bytes of the ``version.py`` it resolves to from
    plain directories once those archives are removed, or None when it does
    not resolve there.

    Returns ``(path, importer_cache)``: new objects without the archives when
    every package is installed with the version its first archive on
    ``path`` carries, otherwise the inputs unchanged."""
    if not archived:
        return path, importer_cache
    for package in SPARK_PACKAGES:
        if installed.get(package) is None:
            return path, importer_cache
        shipped = [archived[e][package] for e in path if package in archived.get(e, ())]
        if shipped and shipped[0] != installed[package]:
            return path, importer_cache
    return (
        [e for e in path if e not in archived],
        {k: v for k, v in importer_cache.items() if k not in archived},
    )


def _archive_versions(entry):
    """``{package: version.py bytes, or None without one}`` for an archive
    holding Python code only under ``SPARK_PACKAGES`` (a jar with no Python
    gives ``{}``), or None for a directory, a missing entry or any other
    archive."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as zf:
            names = zf.namelist()
            tops = {
                os.path.splitext(n.split("/", 1)[0])[0]
                for n in names
                if n.endswith((".py", ".pyc"))
            }
            if not tops <= set(SPARK_PACKAGES):
                return None
            return {
                p: zf.read(f"{p}/version.py") if f"{p}/version.py" in names else None
                for p in tops
            }
    except (OSError, zipfile.BadZipFile):
        return None


def _installed_version(package, path):
    """Bytes of ``package``'s ``version.py`` when ``package`` resolves from a
    plain directory on ``path``, else None."""
    spec = importlib.machinery.PathFinder.find_spec(package, path)
    if spec is None or spec.origin is None or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def use_installed_packages():
    """Step 1 on this interpreter's ``sys.path``; returns the dropped entries."""
    archived = {}
    for entry in sys.path:
        versions = _archive_versions(entry)
        if versions is not None:
            archived[entry] = versions
    rest = [e for e in sys.path if e not in archived]
    installed = {p: _installed_version(p, rest) for p in SPARK_PACKAGES}
    path, cache = drop_archives(sys.path, sys.path_importer_cache, archived, installed)
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    return [e for e in archived if e not in path]


def main():
    use_installed_packages()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401

    gc.freeze()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
