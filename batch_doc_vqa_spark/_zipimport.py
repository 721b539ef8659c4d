"""Lazy invalidation of zip-archive import caches on CPython 3.10-3.12.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before 3.13, each ``zipimporter`` on ``sys.path`` answers by
re-reading its archive's whole central directory at once. A worker holds a
dozen of them over ``pyspark.zip`` and two over the spark-core jar, so every
task spent 170-245 ms of CPU before it read its UDF. CPython 3.13 made the
invalidation lazy: drop the cached directory, read it again on the next
lookup. This module backports that behaviour. Importing the package installs
it, and a worker imports the package when it unpickles its first UDF.

Tasks that never import the package keep the old cost. A Python-RDD task
(``createDataFrame`` over a list of rows plans as ``Scan ExistingRDD``) runs
only pyspark's own serializers, so frames built from driver-side rows go
through pandas instead: Arrow decodes them in the JVM, as a local scan with
no Python task at all.
"""

import sys
import zipimport

if (3, 10) <= sys.version_info < (3, 13):

    def _files(self):
        # CPython 3.13 zipimporter._get_files
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # __init__ assigns _files right after caching the same dict: the setter
    # has nothing left to do
    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
