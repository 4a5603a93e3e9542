"""The stat-checked zip import-cache hook installed by ``import vcf2df_spark``.

pyspark calls ``importlib.invalidate_caches()`` at the start of every Python
task; without the hook every ``zipimporter`` re-reads its archive's central
directory each time. With it, an unchanged archive is read once per importer
and a replaced one is still re-read.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import vcf2df_spark
from vcf2df_spark import shipping


def _write_pkg(path: str, value: int, pad: int = 0) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zpkg_hook/__init__.py", "")
        z.writestr("zpkg_hook/mod.py", f"VALUE = {value}\n" + "#" * pad + "\n")
    os.replace(tmp, path)


def _reads_during_invalidate(archive: str) -> int:
    """``_read_directory`` calls of ``archive`` made by one
    ``importlib.invalidate_caches()``."""
    calls = []
    original = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return original(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = original
    return calls.count(archive)


def _forget_pkg(archive: str) -> None:
    for name in ("zpkg_hook.mod", "zpkg_hook"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_zip_is_not_reread_and_replaced_zip_is(tmp_path):
    archive = str(tmp_path / "zpkg_hook.zip")
    _write_pkg(archive, 1)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zpkg_hook.mod").VALUE == 1
        importlib.invalidate_caches()  # each importer's first call reads
        assert _reads_during_invalidate(archive) == 0
        assert _reads_during_invalidate(archive) == 0

        _write_pkg(archive, 2, pad=64)  # new inode, new size
        assert _reads_during_invalidate(archive) >= 1
        for name in ("zpkg_hook.mod", "zpkg_hook"):
            sys.modules.pop(name)
        assert importlib.import_module("zpkg_hook.mod").VALUE == 2
        assert _reads_during_invalidate(archive) == 0
    finally:
        sys.path.remove(archive)
        _forget_pkg(archive)


def test_hook_installs_once():
    hooked = zipimport.zipimporter.invalidate_caches
    assert hooked.stat_checked
    assert not getattr(hooked.__wrapped__, "stat_checked", False)
    shipping.install_zip_cache_hook()
    importlib.reload(vcf2df_spark)
    assert zipimport.zipimporter.invalidate_caches is hooked


def test_reused_workers_skip_unchanged_zips(spark):
    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        import vcf2df_spark  # noqa: F401 - installs the hook

        for _ in batches:
            pass
        calls = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or original(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(calls)]})

    df = spark.range(0, 8, numPartitions=8)
    schema = "pid long, reads long"
    df.mapInPandas(probe, schema).collect()  # wave 1: each worker reads once
    second = pd.DataFrame(df.mapInPandas(probe, schema).collect(),
                          columns=["pid", "reads"])
    assert len(second) == 8
    assert second["reads"].tolist() == [0] * 8, second
