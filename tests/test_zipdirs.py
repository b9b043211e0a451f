"""Python workers keep zip directories across tasks (zipdirs.py): a
task's ``importlib.invalidate_caches()`` re-reads only archives that
changed, and the driver keeps the stdlib method."""

from __future__ import annotations

import zipimport


def test_worker_rereads_only_changed_zip_archives(spark, tmp_path):
    archive = str(tmp_path / "zd_mods.zip")

    def probe(batches):
        import importlib
        import sys
        import zipfile

        import pyarrow as pa

        import datalakequality_spark  # noqa: F401  (what every engine task imports)

        for _ in batches:
            pass
        reads: list[str] = []
        stdlib_read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return stdlib_read(path)

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zd_one.py", "X = 1\n")
        sys.path.insert(0, archive)
        zipimport._read_directory = counted
        try:
            import zd_one  # noqa: F401

            importlib.invalidate_caches()  # as at the start of a task
            archives = {
                v.archive
                for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)
            }
            del reads[:]
            importlib.invalidate_caches()
            unchanged = len(reads)
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("zd_one.py", "X = 1\n")
                z.writestr("zd_two.py", "Y = 2\n")
            importlib.invalidate_caches()
            changed = reads.count(archive)
            import zd_two

            y = zd_two.Y
        finally:
            zipimport._read_directory = stdlib_read
            sys.path.remove(archive)
            for m in ("zd_one", "zd_two"):
                sys.modules.pop(m, None)
        yield pa.RecordBatch.from_pydict(
            {
                "archives": [sorted(archives)],
                "unchanged": [unchanged],
                "changed": [changed],
                "y": [y],
            }
        )

    [r] = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "archives array<string>, unchanged long, changed long, y long")
        .collect()
    )
    # pyspark.zip and py4j's zip are on the worker's path besides ours
    assert archive in r["archives"] and any(a.endswith("pyspark.zip") for a in r["archives"])
    assert r["unchanged"] == 0
    assert r["changed"] >= 1 and r["y"] == 2
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
