"""`extract.map_rows`, the one body of every Python stage: the row dict's
keys are laid out in the stage schema's order, empty batches yield no
frame, the stage carries its row function's name in the plan, and the
body drops the worker's cached zip finders."""

from __future__ import annotations

import importlib.machinery
import sys
import zipfile
import zipimport

import pandas as pd

from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex

SCHEMA = "id bigint, s string, n int"


def swapped_row(i, s):
    # keys deliberately NOT in schema order
    return {"n": len(s), "s": s.upper(), "id": i}


def test_map_rows_lays_out_schema_order_and_names_the_stage(spark):
    df = spark.createDataFrame([(1, "a"), (2, "bb"), (3, "ccc")],
                               "id bigint, s string")
    # 3 rows over 6 partitions: at least three input batches are empty
    out = ex.map_rows(df.repartition(6), swapped_row, ("id", "s"), SCHEMA)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "swapped_row" in plan, plan
    assert out.columns == ["id", "s", "n"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "A", 1), (2, "BB", 2), (3, "CCC", 3)]


class _Stage:
    """Stands in for a DataFrame: keeps the body map_rows hands to
    ``mapInPandas``."""

    def mapInPandas(self, body, schema):
        self.body, self.schema = body, schema
        return self


def test_map_rows_body_skips_empty_batches(spark):
    # spark: StructType.fromDDL parses the schema through the JVM
    stage = ex.map_rows(_Stage(), swapped_row, ("id", "s"), SCHEMA)
    assert stage.schema == SCHEMA
    frames = list(stage.body(iter([
        pd.DataFrame({"id": [], "s": []}),
        pd.DataFrame({"s": ["xy", "z"], "id": [7, 8]}),
        pd.DataFrame({"id": [], "s": []}),
    ])))
    assert len(frames) == 1
    assert list(frames[0].columns) == ["id", "s", "n"]
    assert frames[0].values.tolist() == [[7, "XY", 2], [8, "Z", 1]]


def test_map_rows_body_drops_cached_zip_finders(spark, tmp_path):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod.py", "X = 1\n")
    folder = str(tmp_path)
    cache = sys.path_importer_cache
    cache[archive] = zipimport.zipimporter(archive)
    cache[folder] = finder = importlib.machinery.FileFinder(folder)
    try:
        stage = ex.map_rows(_Stage(), swapped_row, ("id", "s"), SCHEMA)
        list(stage.body(iter([pd.DataFrame({"id": [1], "s": ["a"]})])))
        assert archive not in cache
        assert cache[folder] is finder
    finally:
        cache.pop(archive, None)
        cache.pop(folder, None)


def zip_finders_row(i):
    return {"id": i, "n": sum(isinstance(f, zipimport.zipimporter)
                              for f in sys.path_importer_cache.values())}


def test_map_rows_leaves_no_zip_finder_to_the_next_task(spark):
    """PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, which re-reads every cached zip finder's archive
    on CPython < 3.13.  The first run may import pyspark modules lazily
    after the body's prune; a second run in the reused workers finds none
    left."""
    df = spark.range(0, 32, 1, 8)

    def run():
        return [r["n"] for r in ex.map_rows(
            df, zip_finders_row, ("id",), "id bigint, n int").collect()]

    run()
    second = run()
    assert len(second) == 32
    assert set(second) == {0}
