"""Python-worker daemon of the engine's sessions (see ``session.py``).

``get_spark`` starts this module in place of ``pyspark.daemon``. It makes
a zipimporter re-read its archive's directory only when the archive's
fingerprint changed since the last read, then runs the stock daemon; the
workers the daemon forks inherit the patched class.
"""

import zipimport

from databricks_feature_store_poc_spark.cacheutil import source_fingerprint

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> its fingerprint, taken just before its directory was last read
_read_at: dict[str, str] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory of an
    unchanged archive instead of reading it again."""
    archive = importer.archive
    fingerprint = source_fingerprint([archive])
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_at.get(archive) == fingerprint:
        importer._files = files
        return
    _stock_invalidate_caches(importer)
    _read_at[archive] = fingerprint


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
