"""Ship this package to executor Python workers.

UDFs defined at module level are cloudpickled by reference, so workers must
be able to ``import vcf2df_spark``. When the driver process wasn't launched
from the repo root (or on a real cluster without --py-files), that import
fails. ``ensure_shipped`` zips the installed package once per process and
registers it via ``addPyFile`` — the programmatic twin of the
``spark-submit --py-files`` contract the jobs use.

It also owns what importing the package costs a worker: pyspark calls
``importlib.invalidate_caches()`` at the start of every Python task and
DataSource planning call, and on CPython 3.11 each ``zipimporter`` then
re-reads its archive's central directory (17 reads in a worker, 12 of them
of pyspark.zip: 105-200 CPU-ms per call). ``install_zip_cache_hook``, run
when the package is imported, makes that re-read stat-checked.
"""

from __future__ import annotations

import os
import threading
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_shipped: set[int] = set()
_lock = threading.Lock()  # concurrent driver threads (verify.multiset_equal)


def ensure_shipped(spark: SparkSession) -> None:
    key = id(spark.sparkContext)
    if key in _shipped:
        return
    with _lock:
        if key in _shipped:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            "/tmp", f"vcf2df_spark_ship_{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            tmp = f"{zip_path}.tmp-{threading.get_ident()}"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
                for root, _, files in os.walk(pkg_dir):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.join(
                                "vcf2df_spark",
                                os.path.relpath(full, pkg_dir),
                            )
                            z.write(full, rel)
            os.replace(tmp, zip_path)
        spark.sparkContext.addPyFile(zip_path)
        _shipped.add(key)


def install_zip_cache_hook() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a stat-checked one.

    An importer re-reads its archive only when the archive's
    ``(st_ino, st_size, st_mtime_ns)``, taken before the read, differ from
    the key recorded at its own last read; a first call, or an archive that
    cannot be stat'ed, goes through the original method. A rebuilt zip
    (``ensure_shipped``'s ``os.replace``, an overwritten ``--py-files``)
    changes the key and is still re-read. Idempotent: the class method is
    wrapped once per process.
    """
    with _lock:
        original = zipimport.zipimporter.invalidate_caches
        if getattr(original, "stat_checked", False):
            return

        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
                key = (st.st_ino, st.st_size, st.st_mtime_ns)
            except OSError:
                key = None
            if key is not None and key == getattr(self, "_read_key", None):
                return
            original(self)
            self._read_key = key

        invalidate_caches.stat_checked = True
        invalidate_caches.__wrapped__ = original
        zipimport.zipimporter.invalidate_caches = invalidate_caches
