"""operators/barrier.py: the one materialization primitive and the one
scratch rule, and the guard that keeps every lineage cut going through
them."""

from __future__ import annotations

import atexit
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.operators import barrier as bar
from pdf_ocr_batch_ndrocr_lite_spark.operators import dedup as dd

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _grouped(spark):
    """A frame with an upstream Exchange (the groupBy) for a cut to skip."""
    return (spark.range(0, 200, 1, 4)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s")))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_materialize_branches_agree_and_cut_the_upstream(spark, tmp_path):
    """The parquet and localCheckpoint branches return the same rows; the
    parquet branch reads back a bare file scan of {scratch}/{name}, and
    neither branch's plan re-runs the upstream Exchange."""
    df = _grouped(spark)
    durable = bar.materialize(df, "grouped", str(tmp_path))
    local = bar.materialize(df, "grouped")
    assert sorted(durable.collect()) == sorted(local.collect()) \
        == sorted(df.collect())

    dplan = _plan(durable)
    assert "FileScan parquet" in dplan
    for node in ("Exchange", "Aggregate", "Scan ExistingRDD"):
        assert node not in dplan, dplan
    where = (tmp_path / "grouped").as_uri().rstrip("/")
    files = durable.inputFiles()
    assert files and all(f.startswith(where + "/") for f in files), files
    assert "Exchange" not in _plan(local)


def test_stage_scratch_rule_with_a_session(spark, tmp_path, monkeypatch):
    """A caller's path keeps what barriers wrote into it (until
    `barrier.delete`), an owned temp dir is removed even when the body
    raises after a barrier write, and a non-local master without a path
    is refused before the body runs."""
    given = str(tmp_path / "given")
    with bar.stage_scratch(spark, given, "spark_graft_test_") as root:
        assert root == given
        bar.materialize(_grouped(spark), "g", root)
    assert os.listdir(given) == ["g"]
    bar.delete(spark, f"{given}/g")
    assert os.listdir(given) == []

    owned_in = tmp_path / "tmp"
    owned_in.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(owned_in))
    with pytest.raises(RuntimeError, match="job failed"):
        with bar.stage_scratch(spark, None, "spark_graft_test_") as root:
            assert root.startswith(str(owned_in))
            bar.materialize(_grouped(spark), "g", root)
            raise RuntimeError("job failed")
    assert os.listdir(owned_in) == []

    monkeypatch.setattr(spark.sparkContext, "master", "spark://host:7077")
    with pytest.raises(ValueError, match="scratch_dir"):
        with bar.stage_scratch(spark, None, "spark_graft_test_"):
            pytest.fail("the body must not run")
    assert os.listdir(owned_in) == []


def test_connected_components_removes_its_own_scratch(spark, tmp_path,
                                                      monkeypatch):
    """Without scratch_dir, CC's own temp dir is removed before the
    non-convergence RuntimeError, and on success it lives (the result
    reads it lazily) until the exit hook CC registers runs."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "a_id bigint, b_id bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=1)
    assert not list(tmp_path.glob("spark_graft_cc_*"))

    hooks = []
    monkeypatch.setattr(atexit, "register", hooks.append)
    got = {r["id"]: r["component"]
           for r in dd.connected_components(chain).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert len(list(tmp_path.glob("spark_graft_cc_*"))) == 1
    assert len(hooks) == 1
    hooks[0]()
    assert not list(tmp_path.glob("spark_graft_cc_*"))


def test_only_barrier_cuts_lineage_or_makes_scratch():
    """Every lineage cut goes through `barrier.materialize` and every
    owned scratch dir through `barrier.stage_scratch`: no other module of
    the package, nor the driver contract, calls localCheckpoint or
    mkdtemp itself."""
    pkg = ROOT / "pdf_ocr_batch_ndrocr_lite_spark"
    files = sorted(pkg.rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    offenders = [
        f"{path.relative_to(ROOT)}:{no}"
        for path in files if path != pkg / "operators" / "barrier.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or "mkdtemp(" in line]
    assert offenders == []
