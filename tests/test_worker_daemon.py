"""The Python worker daemon that keeps Spark's own archives between tasks.

``get_spark`` starts Python workers through
``mcp_crawl4ai_rag_spark.worker_daemon``; every task's
``importlib.invalidate_caches()`` then skips the zipimporters of the
archives on the daemon's startup ``sys.path`` and invalidates everything
else as CPython does.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

from mcp_crawl4ai_rag_spark.worker_daemon import ArchiveKeepingImportlib, startup_archives


def in_worker(spark, fn):
    """``fn()``'s string result, computed inside one Python worker."""

    def part(batches):
        import pyarrow as pa

        for _ in batches:
            yield pa.RecordBatch.from_pydict({"s": [fn()]})

    return spark.range(1, numPartitions=1).mapInArrow(part, "s string").first()["s"]


def test_worker_runs_the_archive_keeping_shim(spark):
    def report():
        import json
        import os
        import sys

        from pyspark import worker_util

        shim = worker_util.importlib
        return json.dumps(
            {
                "daemon": sys.modules["__main__"].__spec__.name,
                "invalidate": shim.invalidate_caches.__qualname__,
                "skipped": sorted(getattr(shim, "startup_archives", ())),
                "startup": sorted(
                    os.path.realpath(p)
                    for p in os.environ["PYTHONPATH"].split(os.pathsep)
                    if os.path.isfile(p)
                ),
            }
        )

    import json

    got = json.loads(in_worker(spark, report))
    assert got["daemon"] == "mcp_crawl4ai_rag_spark.worker_daemon"
    assert got["invalidate"] == "ArchiveKeepingImportlib.invalidate_caches"
    # exactly the archives Spark put on the daemon's path at startup
    assert got["skipped"] == got["startup"]
    names = {os.path.basename(p) for p in got["skipped"]}
    assert "pyspark.zip" in names
    assert any(n.startswith("spark-core") and n.endswith(".jar") for n in names)


def test_zip_added_after_start_imports_in_worker(spark, tmp_path):
    mod = f"late_pyfile_{uuid.uuid4().hex}"
    token = uuid.uuid4().hex
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", f"TOKEN = {token!r}\n")
    spark.sparkContext.addPyFile(str(archive))

    def load():
        import importlib

        return importlib.import_module(mod).TOKEN

    assert in_worker(spark, load) == token


def test_shim_invalidates_directory_finders(tmp_path, monkeypatch):
    """A module written into a sys.path directory whose listing is cached
    (its mtime put back, as on a filesystem with coarse timestamps) is
    found only after the FileFinder is invalidated."""
    u = uuid.uuid4().hex
    first, second = f"dir_first_{u}", f"dir_second_{u}"
    (tmp_path / f"{first}.py").write_text("X = 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    importlib.import_module(first)
    st = os.stat(tmp_path)
    (tmp_path / f"{second}.py").write_text("X = 2\n")
    os.utime(tmp_path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert importlib.util.find_spec(second) is None

    ArchiveKeepingImportlib(startup_archives()).invalidate_caches()
    assert importlib.import_module(second).X == 2
    for m in (first, second):
        sys.modules.pop(m, None)


def test_shim_skips_only_startup_zipimporters(tmp_path, monkeypatch):
    archive = tmp_path / "kept.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"kept_{uuid.uuid4().hex}.py", "")
    monkeypatch.syspath_prepend(str(archive))
    importlib.util.find_spec("no_such_module_anywhere")  # caches its zipimporter
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    reread = []
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", lambda self: reread.append(self.archive)
    )

    ArchiveKeepingImportlib(frozenset({os.path.realpath(archive)})).invalidate_caches()
    assert str(archive) not in reread
    ArchiveKeepingImportlib(frozenset()).invalidate_caches()
    assert str(archive) in reread
