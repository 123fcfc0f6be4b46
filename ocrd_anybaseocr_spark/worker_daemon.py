"""Python worker daemon for the sessions ``sources.tables.spark_session``
builds (``spark.python.daemon.module``).

Spark starts it as ``python -m ocrd_anybaseocr_spark.worker_daemon
pyspark.worker``, with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
source zip and the spark-core jar ahead of site-packages on the path. From
there every worker would import pyspark from the uncompiled zip (about 1 s
per worker start), and every task's ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) would re-read the directory of
each archive that holds a cached ``zipimporter``: 16 of them, 0.13-0.25 s
per task on a 4-core host. Before pyspark is imported, this module drops
each archive the installed packages already serve (``served_by_install``)
from ``sys.path`` and from ``sys.path_importer_cache``, then hands over to
``pyspark.daemon.manager()``; the workers it forks inherit the cleaned
path. Any other archive (a ``--py-files`` zip, a pyspark.zip of another
version than the installed one) stays, and those workers behave as
Spark's own daemon would.

Sessions this does not reach: jobs under ``spark-submit`` and sessions the
caller builds itself do not call ``spark_session``, so they run Spark's
own ``pyspark.daemon``. The daemon is found the way the package's UDF
modules are (the working directory or ``PYTHONPATH``), so a session whose
workers cannot import the package fails on its first Python task either
way. The package ``__init__`` imports nothing, so ``-m`` loads no pyspark
before this module runs.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"^__version__\s*(?::[^=]*)?=\s*['\"]([^'\"]+)['\"]", re.M)


def served_by_install(archive: str, dirs: list[str]) -> bool:
    """Whether the packages installed in ``dirs`` serve everything the
    zip ``archive`` holds: it holds no Python module (the spark-core jar),
    or each top-level package in it carries a ``version.py`` whose
    ``__version__`` equals the version of that package's distribution in
    ``dirs``. A path that is no zip, or any other archive, is not served."""
    if not (os.path.isfile(archive) and zipfile.is_zipfile(archive)):
        return False
    with zipfile.ZipFile(archive) as z:
        tops = {n.split("/", 1)[0] for n in z.namelist() if n.endswith((".py", ".pyc"))}
        for top in tops:
            try:
                found = _VERSION.search(z.read(f"{top}/version.py").decode())
            except (KeyError, UnicodeDecodeError):
                return False
            dist = next(importlib.metadata.distributions(name=top, path=dirs), None)
            if found is None or dist is None or dist.version != found.group(1):
                return False
    return True


def drop_served_archives(path: list[str], cache: dict) -> list[str]:
    """Remove from ``path`` (``sys.path``) every archive ``served_by_install``
    by its directory entries, and from ``cache`` (``sys.path_importer_cache``)
    the importers kept for those archives and for any path inside them.
    Returns the dropped archives."""
    dirs = [p for p in path if os.path.isdir(p)]
    dropped = [p for p in path if served_by_install(p, dirs)]
    path[:] = [p for p in path if p not in dropped]
    for key in [k for k in cache if isinstance(k, str)]:
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del cache[key]
    return dropped


if __name__ == "__main__":
    drop_served_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
