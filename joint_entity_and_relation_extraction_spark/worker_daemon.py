"""Python worker daemon that imports pyspark from site-packages.

Spark starts its worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Imported from there, pyspark is compiled from source in every forked
worker (a zip holds no bytecode cache), and every task's
``importlib.invalidate_caches()`` makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's directory in pure
Python. This module takes those archives off the path, then runs the
stock ``pyspark.daemon`` manager unchanged.

An archive leaves the path only when nothing importable is lost:

- a pyspark or py4j archive, when the directory copy the remaining path
  would import has a byte-identical ``version.py``; if any such archive
  lacks that twin, nothing is dropped at all;
- any other archive, when it holds no ``.py``/``.pyc`` file.

Runs before anything imports pyspark, so it uses only the standard
library. Spark starts it as ``python -m`` (``spark.python.daemon.module``,
set in ``session.build_session``).
"""

from __future__ import annotations

import os
import sys
import zipfile

#: the file that pins a package's version, for the archives that carry one
VERSION_FILES = ("pyspark/version.py", "py4j/version.py")


def _zip_names(path: str) -> list[str] | None:
    """Member names of the zip archive at ``path``; None if it is not one."""
    if not (os.path.isfile(path) and zipfile.is_zipfile(path)):
        return None
    with zipfile.ZipFile(path) as z:
        return z.namelist()


def _same_as_directory_copy(archive: str, member: str, dirs: list[str]) -> bool:
    """True when the first directory in ``dirs`` holding ``member`` holds
    the same bytes as ``archive`` does."""
    for d in dirs:
        f = os.path.join(d, member)
        if os.path.isfile(f):
            with zipfile.ZipFile(archive) as z, open(f, "rb") as fh:
                return z.read(member) == fh.read()
    return False


def archives_to_drop(path: list[str]) -> list[str]:
    """The archives on ``path`` that may leave it (see the module doc)."""
    archives = {p: names for p in path
                if (names := _zip_names(p)) is not None}
    dirs = [p for p in path if p not in archives]
    drop = []
    for archive, names in archives.items():
        member = next((m for m in VERSION_FILES if m in names), None)
        if member is not None:
            if not _same_as_directory_copy(archive, member, dirs):
                return []
            drop.append(archive)
        elif not any(n.endswith((".py", ".pyc")) for n in names):
            drop.append(archive)
    return drop


def drop_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Removes ``archives_to_drop(path)`` from ``path`` in place, and every
    ``importer_cache`` entry at or inside them; returns the archives."""
    dropped = archives_to_drop(path)
    path[:] = [p for p in path if p not in dropped]
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del importer_cache[key]
    return dropped


if __name__ == "__main__":
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
