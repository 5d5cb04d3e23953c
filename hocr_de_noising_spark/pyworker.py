"""Per-process set-up for the Python functions shipped to Spark workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On Python 3.10 and 3.11 that makes each ``zipimporter`` on the
worker's path re-read its whole archive directory at once, in pure
Python (CPython gh-103200): with ``pyspark.zip`` and the spark-core jar
on the path, about 0.2 s of every task on a 4-vCPU host. Python 3.12
made the invalidation lazy: the cached directory is dropped, and an
archive is re-read only on its next lookup. ``lazy_zip_invalidation`` backports
that, so a reused worker pays the eager re-read on its first task only.

``lexicon`` keeps the last ``Lexicon`` built in the process, so a reused
worker does not rebuild it on every task (about 0.05 s for 5,000 tokens on
a 4-vCPU host).
"""

from __future__ import annotations

import sys
import zipimport

from hocr_de_noising_spark.rules_np import Lexicon

# (tokens, Lexicon(tokens)) of the last call to lexicon()
_last_lexicon: "tuple[list[str], Lexicon] | None" = None


def lexicon(tokens: list[str]) -> Lexicon:
    """``Lexicon(tokens)``, reused while the token list stays equal. Keyed
    by value, not by broadcast id: the job and the stream broadcast a
    fresh copy of the same list on every call."""
    global _last_lexicon
    if _last_lexicon is None or _last_lexicon[0] != tokens:
        _last_lexicon = (list(tokens), Lexicon(tokens))
    return _last_lexicon[1]


def lazy_zip_invalidation() -> None:
    """Give this process Python 3.12's lazy zipimporter invalidation.
    Idempotent; a no-op outside 3.10-3.11 or if the private names it
    relies on are missing."""
    zi = zipimport.zipimporter
    if (
        not (3, 10) <= sys.version_info < (3, 12)
        or isinstance(vars(zi).get("_files"), property)
        or not all(hasattr(zipimport, n) for n in ("_zip_directory_cache", "_read_directory"))
    ):
        return

    def get_files(self):
        # an archive dropped by invalidate_caches is re-read here, once
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def set_files(self, files):
        # __init__ assigns _files before archive, after caching the same
        # dict under the archive path: nothing to keep here
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zi._files = property(get_files, set_files)
    zi.invalidate_caches = invalidate_caches
    # importers built before now hold their directory in __dict__, where
    # the property shadows it: a second copy once the archive is re-read
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            vars(finder).pop("_files", None)
