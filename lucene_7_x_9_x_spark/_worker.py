"""Zip-free Python workers.

A Python worker that `pyspark.daemon` forks imports pyspark and py4j from
the archives Spark puts on its `sys.path` (`python/lib/pyspark.zip`,
`py4j-*-src.zip`, and the spark-core jar, which holds no Python). Before
every task the worker calls `importlib.invalidate_caches()`, and Python
3.11 then re-reads the whole directory of an archive once per cached
`zipimporter`, one per imported subpackage: 100-200 ms a task for the
3.5 MB pyspark.zip. Workers are reused, and every engine kernel
references engine functions (unpickled by reference), so the package is
imported in a worker's first task; the package `__init__` then calls
`drop_archive_importers` and every later task of that worker skips the
re-read.

It acts only in a daemon-forked worker that can import a non-archive
pyspark (whose `version.py` equals the running, JVM-matched version) and
py4j: those take over the dropped archives' imports. A driver, a plain
Python process, and a worker without such a pyspark (a cluster submit)
are left as they are. An archive that holds other Python code (a
`--py-files` zip such as the engine's own, a zipped standard library)
stays on `sys.path`.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_ARCHIVE = (".zip", ".jar", ".egg")


def _foreign(entry: str) -> bool:
    """Whether the archive holds Python code besides pyspark and py4j."""
    try:
        with zipfile.ZipFile(entry) as z:
            names = z.namelist()
    except (OSError, zipfile.BadZipFile):
        return False
    return any(n.endswith((".py", ".pyc"))
               and n.split("/")[0] not in ("pyspark", "py4j") for n in names)


def _plain(entry: str, dropped: list, roots: dict) -> str:
    """`entry` moved from a dropped archive to the plain install."""
    for archive in dropped:
        if entry.startswith(archive + os.sep):
            rel = entry[len(archive) + 1:]
            root = roots.get(rel.split(os.sep)[0])
            return entry if root is None else os.path.join(root, rel)
    return entry


def drop_archive_importers(path: list | None = None,
                           cache: dict | None = None,
                           version: str | None = None,
                           main: str | None = None,
                           modules: dict | None = None) -> bool:
    """Remove the archives that hold no Python code but pyspark and py4j
    from `path` (default `sys.path`), and every `zipimporter` from `cache`
    (default `sys.path_importer_cache`); the pyspark and py4j packages in
    `modules` (default `sys.modules`) then find their submodules in the
    plain install, so no import brings an archive importer back. `version`
    defaults to the running `pyspark.__version__`, `main` to the name
    `__main__` was run as. Returns whether anything was dropped."""
    if main is None:
        main = getattr(getattr(sys.modules.get("__main__"), "__spec__", None),
                       "name", None)
    if main != "pyspark.daemon":
        return False
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    modules = sys.modules if modules is None else modules
    if version is None:
        version = getattr(modules.get("pyspark"), "__version__", None)
    plain = [p for p in path if not p.endswith(_ARCHIVE)]
    roots = {}
    for name in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(name, plain)
        if spec is None or not spec.submodule_search_locations:
            return False
        roots[name] = os.path.dirname(spec.submodule_search_locations[0])
    try:
        with open(os.path.join(roots["pyspark"], "pyspark",
                               "version.py")) as f:
            found = re.search(r"__version__\b[^=]*=\s*['\"]([^'\"]+)",
                              f.read())
    except OSError:
        return False
    if found is None or found.group(1) != version:
        return False
    dropped = [p for p in path if p.endswith(_ARCHIVE) and not _foreign(p)]
    path[:] = [p for p in path if p not in dropped]
    for key in [k for k, v in cache.items()
                if isinstance(v, zipimport.zipimporter)]:
        del cache[key]
    for name, mod in list(modules.items()):
        pkg = getattr(mod, "__path__", None)
        if name.split(".")[0] in roots and isinstance(pkg, list):
            pkg[:] = [_plain(e, dropped, roots) for e in pkg]
    return True
