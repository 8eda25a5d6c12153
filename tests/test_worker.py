"""The Python-worker zip freeze (rensa_spark/session.py): archives on a
worker's path are not re-read before every task, `addPyFile` zips still are,
and the driver's import state is left alone."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def test_freeze_skips_rereads_outside_spark_files_root(tmp_path, monkeypatch):
    from pyspark import SparkFiles

    from rensa_spark.session import _FrozenZipImporter, freeze_worker_zip_imports

    root = tmp_path / "userFiles"
    root.mkdir()
    fixed = _zip(
        tmp_path / "fixed.zip", {"zfreeze_mod.py": "X = 1\n", "zfreeze_pkg/__init__.py": "", "zfreeze_pkg/sub.py": ""}
    )
    added = _zip(root / "added.zip", {"zfreeze_added.py": "Y = 2\n"})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.syspath_prepend(fixed)
    monkeypatch.syspath_prepend(added)
    for name in ("zfreeze_mod", "zfreeze_pkg", "zfreeze_pkg.sub", "zfreeze_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zfreeze_mod")
    importlib.import_module("zfreeze_added")

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or read_directory(archive)
    )
    importlib.invalidate_caches()
    assert fixed in reads and added in reads  # the unfrozen baseline re-reads both

    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    freeze_worker_zip_imports()
    # a subpackage imported after the freeze gets a frozen importer from the hook
    importlib.import_module("zfreeze_pkg.sub")
    assert type(sys.path_importer_cache[os.path.join(fixed, "zfreeze_pkg")]) is _FrozenZipImporter

    reads.clear()
    importlib.invalidate_caches()
    assert [a for a in reads if not a.startswith(str(root))] == []
    assert reads.count(added) == 1
    assert type(sys.path_importer_cache[fixed]) is _FrozenZipImporter
    assert type(sys.path_importer_cache[added]) is zipimport.zipimporter
    assert importlib.import_module("zfreeze_mod").X == 1


def test_worker_zip_finders_frozen_across_tasks(spark):
    """Two single-task jobs: after the body imports rensa_spark, the worker
    holds no plain zipimporter outside the SparkFiles root, and the next
    task's `importlib.invalidate_caches()` re-reads no archive."""

    def body(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd
        from pyspark import SparkFiles

        import rensa_spark  # noqa: F401  (the first import in a worker freezes)

        root = os.path.join(SparkFiles.getRootDirectory(), "")
        for _ in batches:
            pass
        finders = [
            (path, type(f).__name__)
            for path, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and not path.startswith(root)
        ]
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        rows = [(p, k, 0) for p, k in finders]
        rows += [(a, "read", 1) for a in reads if not a.startswith(root)]
        yield pd.DataFrame(rows, columns=["path", "finder", "is_read"])

    df = spark.range(1, numPartitions=1)
    schema = "path string, finder string, is_read int"
    df.mapInPandas(body, schema).collect()
    rows = df.mapInPandas(body, schema).collect()
    finders = {r.path: r.finder for r in rows if not r.is_read}
    assert finders, "no zip archive on the worker's path"
    assert set(finders.values()) == {"_FrozenZipImporter"}, finders
    assert [r.path for r in rows if r.is_read] == []


def test_driver_import_leaves_import_state(tmp_path):
    """On the driver, importing rensa_spark imports no pyspark and, with
    pyspark loaded, changes no path-importer type and no path hook."""
    archive = _zip(tmp_path / "drv.zip", {"zdriver_mod.py": "Z = 3\n"})
    code = textwrap.dedent(
        """
        import importlib, sys
        import zdriver_mod
        import rensa_spark
        assert "pyspark" not in sys.modules, "rensa_spark imported pyspark"
        import pyspark
        before = {k: type(v) for k, v in sys.path_importer_cache.items()}
        hooks = list(sys.path_hooks)
        importlib.reload(rensa_spark)
        assert {k: type(sys.path_importer_cache[k]) for k in before} == before
        assert sys.path_hooks == hooks
        assert any(t.__name__ == "zipimporter" for t in before.values())
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([archive, repo]))
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=120)
