"""The worker-side import hook installed by ``shipping``: inside a
Spark task, ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed on disk."""

import sys


def test_task_invalidation_rereads_only_changed_archives(spark, tmp_path):
    from modelardb_rs_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    zdir = str(tmp_path)

    def probe(batches):
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        import modelardb_rs_spark  # noqa: F401 — installs the hook

        for _ in batches:
            pass
        hooked = getattr(zipimport.zipimporter.invalidate_caches, "_stamped", False)
        importlib.invalidate_caches()  # importers made in this task take theirs
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        path = os.path.join(zdir, "zprobe.zip")

        def write(version, pad):
            with zipfile.ZipFile(path, "w") as zf:
                zf.writestr("zprobe_mod.py", f"VERSION = {version}\n" + "#" * pad)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            unchanged = len(reads)
            write(1, 0)
            sys.path.insert(0, path)
            try:
                v1 = importlib.import_module("zprobe_mod").VERSION
                importlib.invalidate_caches()
                del reads[:]
                write(2, 4096)  # rewritten in place, with a new size
                del sys.modules["zprobe_mod"]
                importlib.invalidate_caches()
                rereads = reads.count(path)
                v2 = importlib.import_module("zprobe_mod").VERSION
            finally:
                sys.path.remove(path)
                sys.modules.pop("zprobe_mod", None)
                sys.path_importer_cache.pop(path, None)
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({
            "minor": [sys.version_info[1]], "hooked": [hooked], "unchanged": [unchanged],
            "v1": [v1], "rereads": [rereads], "v2": [v2],
        })

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "minor INT, hooked BOOLEAN, unchanged INT, v1 INT, rereads INT, v2 INT"
    ).collect()
    assert sys.version_info[:2] == (3, row["minor"])
    eager = sys.version_info < (3, 13)  # 3.13 re-reads lazily, on next use
    assert row["hooked"] == eager
    assert row["unchanged"] == 0
    assert (row["v1"], row["v2"]) == (1, 2)
    assert row["rereads"] == (1 if eager else 0)
