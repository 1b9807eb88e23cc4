"""kafka2iceberg_spark — a PySpark-native streaming/CEP analytics engine.

A from-scratch re-expression of the capabilities of naive-zhang/kafka2iceberg
(Flink + Iceberg CDC ingestion, reference at /root/reference) as an idiomatic
PySpark Structured Streaming engine, extended with the windowing / session /
stateful-join / exactly-once surface required by the project north star and a
set of large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing).

Design stance (SURVEY.md §7): declarative DataFrame ops compiled by Catalyst
wherever possible; Arrow-vectorized pandas UDFs only where state or per-group
ordering demands it; zero custom Catalyst rules; no per-row Python anywhere.
"""

__version__ = "0.1.0"


def _stat_gated_zip_invalidate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when it
    has changed on disk.

    Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, reused workers included. On Python < 3.12 each
    ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
    archive's whole central directory, and importing pyspark from
    ``pyspark.zip`` leaves one importer per package directory (14 once the
    Arrow and state serializers are loaded). That is 75-220 ms of every
    Python UDF task, the stateful pairs query's included.

    The wrapper stats ``self.archive`` and calls the original re-read only
    when ``(st_mtime_ns, st_size)`` differs from what this importer last
    read, or when the stat fails, so a changed archive is still re-read.
    It does nothing on Python >= 3.12, whose zipimport no longer re-reads
    eagerly, and installs at most once however often it runs. The workers
    pick it up the first time they import this package, which every engine
    UDF's pickled closure does.
    """
    import functools
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or self.__dict__.get("_archive_stat") != seen:
            reread(self)
            self._archive_stat = seen

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_gated_zip_invalidate()
