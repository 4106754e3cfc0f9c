"""`extract.map_rows`, the one body of every Python stage: the row dict's
keys are laid out in the stage schema's order, empty batches yield no
batch, the stage carries its row function's name in the plan, values of
every column type read back as the row function returned them, naive
timestamps mean the session time zone, and the body drops the worker's
cached zip finders."""

from __future__ import annotations

import datetime as dt
import importlib.machinery
import sys
import zipfile
import zipimport

import pyarrow as pa
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex
from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import corpus_df

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
    assert plan.count("MapInArrow") == 1, plan
    assert "swapped_row" in plan, plan
    assert out.columns == ["id", "s", "n"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "A", 1), (2, "BB", 2), (3, "CCC", 3)]


class _Stage:
    """Stands in for a DataFrame: keeps the body map_rows hands to
    ``mapInArrow``."""

    def mapInArrow(self, body, schema):
        self.body, self.schema = body, schema
        return self


def _batch(**cols):
    return pa.RecordBatch.from_pydict(cols)


def test_map_rows_body_skips_empty_batches(spark):
    # spark: StructType.fromDDL parses the schema through the JVM
    stage = ex.map_rows(_Stage(), swapped_row, ("id", "s"), SCHEMA)
    assert stage.schema == SCHEMA
    empty = _batch(id=[], s=[])
    batches = list(stage.body(iter([
        empty, _batch(s=["xy", "z"], id=[7, 8]), empty])))
    assert len(batches) == 1
    assert batches[0].schema.names == ["id", "s", "n"]
    assert batches[0].to_pylist() == [{"id": 7, "s": "XY", "n": 2},
                                      {"id": 8, "s": "Z", "n": 1}]


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
        list(stage.body(iter([_batch(id=[1], s=["a"])])))
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


TYPED_SCHEMA = ("id bigint, i int, b bigint, d double, ok boolean, "
                "raw binary, gone string, spans array<struct<w:string,n:int>>")


def typed_row(i):
    return {"id": i, "i": -i, "b": i * 10**12, "d": i / 4, "ok": i % 2 == 0,
            "raw": bytes([i, 0, 255]), "gone": None,
            "spans": [{"w": "x" * i, "n": i}, {"w": None, "n": None}]}


def test_map_rows_reads_back_every_type_it_returned(spark):
    """int, bigint, double, boolean, binary, NULL and array<struct>
    values come back from the stage equal to the row function's."""
    got = ex.map_rows(spark.range(0, 5, 1, 2), typed_row, ("id",),
                      TYPED_SCHEMA).orderBy("id").collect()
    assert [r.asDict(recursive=True) for r in got] == [
        dict(typed_row(i), raw=bytearray(typed_row(i)["raw"]))
        for i in range(5)]


def test_map_rows_naive_timestamps_are_session_wall_clock(spark):
    """A naive datetime means wall-clock time in the session time zone
    (``corpus.make_row`` writes naive ``warc_ts`` values), so the
    strings a Tokyo session shows are the ones the corpus wrote."""
    conf = spark.conf
    before = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        got = corpus_df(spark, 2, seed=7).select(
            F.col("warc_ts").cast("string").alias("ts"),
            F.unix_timestamp("warc_ts").alias("epoch")).collect()
    finally:
        conf.set("spark.sql.session.timeZone", before)
    assert [r["ts"] for r in got] == ["2024-01-01 00:00:00",
                                      "2024-01-01 00:00:01"]
    assert got[0]["epoch"] == int(dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone(dt.timedelta(hours=9))).timestamp())
