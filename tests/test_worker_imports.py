"""The Python worker's zip finders stay frozen across tasks, and a
``pyFiles`` zip added after the freeze still imports inside a task."""

from __future__ import annotations

import uuid
import zipfile

import pytest

from geneticalgorithmsusingmapreduce_spark._worker_imports import (
    invalidation_rereads,
)

pytestmark = pytest.mark.skipif(
    not invalidation_rereads(),
    reason="this interpreter's zip finders do not re-read on invalidation",
)


def _finder_report():
    """A task function that yields one row per task: the zip finders in
    the worker's importer cache, and how many keep their directory
    through the per-task ``importlib.invalidate_caches()``. Nested, so
    it is pickled by value (the test module does not import in a
    worker)."""

    def report(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import geneticalgorithmsusingmapreduce_spark  # noqa: F401

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        kept = sum(f._files is b for f, b in zip(zips, before))
        yield pa.RecordBatch.from_pydict(
            {"zips": [len(zips)], "kept": [kept]}
        )

    return report


def _run_two_tasks(spark, fn, schema):
    return spark.range(0, 2, numPartitions=2).mapInArrow(fn, schema).collect()


def test_worker_zip_finders_are_frozen(spark):
    _run_two_tasks(spark, _finder_report(), "zips long, kept long")
    rows = _run_two_tasks(spark, _finder_report(), "zips long, kept long")
    assert len(rows) == 2
    for r in rows:
        assert r.zips > 0  # pyspark.zip's package finders at least
        assert r.kept == r.zips


def test_pyfile_added_after_freeze_imports_in_task(spark, tmp_path):
    name = f"gamr_pyfile_probe_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    _run_two_tasks(spark, _finder_report(), "zips long, kept long")
    spark.sparkContext.addPyFile(str(path))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import geneticalgorithmsusingmapreduce_spark  # noqa: F401

        for _ in batches:
            pass
        value = importlib.import_module(name).VALUE
        finder = next(
            f for p, f in sys.path_importer_cache.items()
            if p.endswith(f"{name}.zip")
        )
        yield pa.RecordBatch.from_pydict({
            "value": [value],
            "frozen": [type(finder) is not zipimport.zipimporter],
        })

    rows = _run_two_tasks(spark, probe, "value long, frozen boolean")
    assert [(r.value, r.frozen) for r in rows] == [(42, True), (42, True)]
