"""demeton_spark — a PySpark-native spatial-join + raster-tiling engine.

Re-expresses the computational capabilities of breki/demeton (SRTM DEM
hillshading) as idiomatic Spark: DataFrame joins for tile assignment and
halo exchange, Arrow-batched pandas UDFs for the raster kernels, and
deterministic synthetic Iceberg-shaped image tables for testing.
"""

import sys

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Let ``zipimporter.invalidate_caches`` skip archives that did not change.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task.  On CPython < 3.13 that makes every zipimporter on ``sys.path``
    re-parse its archive's whole central directory: pyspark.zip, the
    spark-core jar and py4j cost a reused worker about 0.2 s of CPU per
    task.  Here every directory read is tagged with the archive's
    ``(st_mtime_ns, st_size)`` (the staleness test CPython applies to
    source files).  While the archive's stat still equals that of its
    last read, an importer takes that directory instead of parsing the
    archive again.  A changed archive, a failed stat or an archive not
    read since this ran still goes through the original method, so
    imports see what they saw before.  CPython 3.13 re-reads lazily on
    its own.

    Installed at package import because every worker that unpickles a
    demeton_spark UDF imports the package, also when it ships with
    ``--py-files``; ``spark.python.worker.module`` would load before a
    task puts those files on the path.
    """
    import zipimport

    invalidate = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or invalidate.__module__ == __name__:
        return
    import os

    read_directory = zipimport._read_directory
    last_read: dict[str, tuple] = {}  # archive -> (stat, directory read)

    def stat_of(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory(archive):
        stat = stat_of(archive)
        files = read_directory(archive)
        if stat is not None:
            last_read[archive] = (stat, files)
        return files

    def invalidate_caches(self):
        stat, files = last_read.get(self.archive, (None, None))
        if stat is not None and stat == stat_of(self.archive):
            self._files = files  # what a re-read would return
        else:
            invalidate(self)

    invalidate_caches.__doc__ = invalidate.__doc__
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()
