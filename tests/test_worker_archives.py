"""The archive pin inside Python workers (``rasterkit_spark._archives``).

Structural checks, run inside ``mapInPandas`` tasks that import the
package as every rasterkit UDF does: the per-task
``importlib.invalidate_caches()`` re-reads no Spark archive (pyspark.zip,
the py4j zip, the spark-core jar), also through a zip importer created
after the pin, while a user archive shipped later with ``addPyFile``
still reloads and imports."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import cloudpickle

# the probes run in Python workers, which cannot import this test module:
# ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (name == "pyspark.zip"
            or (name.startswith("py4j-") and name.endswith(".zip"))
            or (name.startswith("spark-") and name.endswith(".jar")))


def _zip_importers(keep) -> dict:
    """path → zipimporter of ``sys.path_importer_cache`` whose archive
    ``keep`` accepts."""
    return {k: v for k, v in list(sys.path_importer_cache.items())
            if isinstance(v, zipimport.zipimporter) and keep(v.archive)}


def _directory_reads(fn, keep) -> int:
    """Archive directory reads that ``keep`` accepts while ``fn`` runs."""
    reads, orig = [], zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = orig
    return sum(map(keep, reads))


def _in_tasks(spark, probe, schema, tasks):
    """One row per task of ``probe() -> dict``, which runs after
    the task imported the package."""
    def run(batches):
        import rasterkit_spark  # noqa: F401  (what every rasterkit UDF does)
        for _ in batches:
            pass
        yield pd.DataFrame([probe()])

    return spark.range(tasks, numPartitions=tasks) \
        .mapInPandas(run, schema).toPandas()


def _pinned_probe() -> dict:
    cached = _zip_importers(_is_spark_archive)
    before = _directory_reads(importlib.invalidate_caches, _is_spark_archive)
    # a pyspark subpackage no rasterkit UDF imports: its first import
    # creates a new importer over pyspark.zip, after the pin
    import pyspark.sql.avro.functions  # noqa: F401
    new = {k: v for k, v in _zip_importers(_is_spark_archive).items()
           if k not in cached}
    after = _directory_reads(importlib.invalidate_caches, _is_spark_archive)
    new_alone = sum(_directory_reads(v.invalidate_caches, _is_spark_archive)
                    for v in new.values())
    return {"cached": len(cached),
            "pyspark_zip": sum(os.path.basename(v.archive) == "pyspark.zip"
                               for v in cached.values()),
            "new_avro": sum(k.endswith(os.path.join("sql", "avro"))
                            for k in new),
            "reads": before + after + new_alone}


def _task_probe() -> dict:
    return {"importers": len(_zip_importers(_is_spark_archive)),
            "reads": _directory_reads(importlib.invalidate_caches,
                                      _is_spark_archive)}


def test_spark_archive_importers_are_pinned(spark):
    """importlib.invalidate_caches() reads the directory of no Spark
    archive: not for the importers already cached, nor for one a later
    subpackage import creates; and so in every task of a wider stage."""
    row = _in_tasks(spark, _pinned_probe, "cached long, pyspark_zip long, "
                    "new_avro long, reads long", tasks=1).iloc[0]
    # workers import pyspark from Spark's archives: there is something
    # to pin
    assert row.pyspark_zip >= 1 and row.cached > row.pyspark_zip, row
    assert row.new_avro == 1, row
    assert row.reads == 0, row
    tasks = 2 * spark.sparkContext.defaultParallelism
    wide = _in_tasks(spark, _task_probe, "importers long, reads long", tasks)
    assert len(wide) == tasks and (wide.importers > 0).all(), wide
    assert (wide.reads == 0).all(), wide


@pytest.fixture
def user_zip(tmp_path):
    """A zip holding one uniquely named module (``addPyFile`` refuses a
    second file of the same name in one SparkContext)."""
    name = f"rk_user_mod_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    return name, str(path)


def test_user_archive_added_later_still_imports(spark, user_zip):
    """A module shipped through addPyFile after the workers pinned Spark's
    archives imports in every task, and its archive still reloads on
    invalidation."""
    n = spark.sparkContext.defaultParallelism
    # every worker imports the package (and pins) first
    assert len(_in_tasks(spark, lambda: {"ok": 1}, "ok long", n)) == n
    name, path = user_zip
    spark.sparkContext.addPyFile(path)

    def is_user(archive):
        return os.path.basename(archive) == f"{name}.zip"

    def probe():
        return {"value": importlib.import_module(name).VALUE,
                "importers": len(_zip_importers(is_user)),
                "reads": _directory_reads(importlib.invalidate_caches,
                                          is_user)}

    got = _in_tasks(spark, probe, "value long, importers long, reads long",
                    n)
    assert (got.value == 42).all(), got
    assert (got.importers >= 1).all(), got
    assert (got.reads == got.importers).all(), got
