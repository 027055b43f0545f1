"""When a Spark task first imports the package, the Python worker's zip
finders stop re-reading their archives
(``fabstir_vectordb_spark._drop_zip_finders``), so the
``importlib.invalidate_caches()`` at the start of every later task has no
zip directory to re-read; on the driver the import system stays as it
is."""

import sys
import zipfile
import zipimport

import fabstir_vectordb_spark
from fabstir_vectordb_spark.operators.knn import knn_bulk


def test_a_worker_that_ran_a_kernel_holds_no_rereading_zip_finder(spark):
    vec = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(16)], "id long, vector array<double>"
    ).repartition(4)
    q = spark.createDataFrame([(0, [0.5, 0.0])], "query_id long, vector array<double>")
    assert len(knn_bulk(vec, q, 3).collect()) == 3  # a package kernel on the workers

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        rereads = zipimport.zipimporter.invalidate_caches
        n = sum(
            isinstance(f, zipimport.zipimporter) and type(f).invalidate_caches is rereads
            for f in sys.path_importer_cache.values()
        )
        yield pa.record_batch(
            [pa.array(["fabstir_vectordb_spark" in sys.modules]), pa.array([n])],
            names=["imported", "zip_finders"],
        )

    # the probe itself never imports the package; its tasks cycle
    # through the idle workers
    rows = spark.range(32).repartition(32).mapInArrow(
        probe, "imported boolean, zip_finders long"
    ).collect()
    after_kernel = [r["zip_finders"] for r in rows if r["imported"]]
    assert after_kernel and set(after_kernel) == {0}


def test_the_driver_keeps_its_zip_finders(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod.py", "X = 1\n")
    key = str(archive)
    sys.path_importer_cache[key] = zipimport.zipimporter(key)
    try:
        before, hooks = dict(sys.path_importer_cache), list(sys.path_hooks)
        fabstir_vectordb_spark._drop_zip_finders()
        assert sys.path_importer_cache == before
        assert sys.path_hooks == hooks
    finally:
        del sys.path_importer_cache[key]
