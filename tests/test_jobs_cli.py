"""spark-submit entry point: CLI contract."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path


def test_jobs_cli_synthetic(tmp_path):
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    proc = subprocess.run(
        [sys.executable, "-m", "pdf_ocr_batch_ndrocr_lite_spark.jobs",
         "--synthetic-docs", "120", "--output", str(out),
         "--checkpoint", str(ckpt), "--master", "local[4]",
         "--num-buckets", "8"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    totals = json.loads(proc.stdout.strip().splitlines()[-1])
    assert totals["docs"] == 120
    assert totals["extracted"] > 0
    assert (out / "_SUCCESS").exists() or any(out.iterdir())


def test_jobs_cli_webgraph_counts_written_hosts(tmp_path):
    """--webgraph reports ``hosts`` from an observation on the output
    write: the number of rows the rank table was written with."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # three registrable domains whose absolute links form a ring
    urls, html = [], []
    for i in range(9):
        urls.append(f"https://sub.dom{i % 3}.org/p{i}.html")
        html.append(f'<a href="https://dom{(i + 1) % 3}.org/x">x</a>'
                    .encode("utf-8"))
    (tmp_path / "pages").mkdir()
    pq.write_table(pa.table({"url": urls, "html": html}),
                   str(tmp_path / "pages" / "part-0.parquet"))
    out = tmp_path / "ranks"
    proc = subprocess.run(
        [sys.executable, "-m", "pdf_ocr_batch_ndrocr_lite_spark.jobs",
         "--webgraph", "--input", str(tmp_path / "pages"),
         "--output", str(out), "--master", "local[2]"],
        capture_output=True, text=True, timeout=300,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts["host_edges"] == 3
    assert counts["hosts"] == pq.read_table(str(out)).num_rows == 3


def test_jobs_cli_bad_args():
    proc = subprocess.run(
        [sys.executable, "-m", "pdf_ocr_batch_ndrocr_lite_spark.jobs",
         "--output", "/tmp/x"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert proc.returncode != 0
    assert "required" in proc.stderr.lower() or "error" in proc.stderr.lower()


def _stub_session(master):
    from types import SimpleNamespace
    return SimpleNamespace(sparkContext=SimpleNamespace(master=master))


def test_stage_scratch_owns_only_its_own_temp_dir(tmp_path):
    """One scratch-ownership rule for --curate and --webgraph: on a local
    master the job makes a temp dir and removes it even when the body
    raises; a caller's --curate-scratch is never deleted; a non-local
    master without one is refused before the job runs."""
    import os

    import pytest

    from pdf_ocr_batch_ndrocr_lite_spark.operators.barrier import \
        stage_scratch

    local = _stub_session("local[2]")
    made = []
    with pytest.raises(RuntimeError):
        with stage_scratch(local, None, "spark_graft_test_") as scratch:
            made.append(scratch)
            assert os.path.isdir(scratch)
            assert os.path.basename(scratch).startswith("spark_graft_test_")
            raise RuntimeError("job failed")
    assert made and not os.path.exists(made[0])

    given = tmp_path / "caller_scratch"
    given.mkdir()
    (given / "stage0").write_text("kept")
    for master in ("local[2]", "yarn"):
        with pytest.raises(RuntimeError):
            with stage_scratch(_stub_session(master), str(given),
                               "spark_graft_test_") as scratch:
                assert scratch == str(given)
                raise RuntimeError("job failed")
        assert (given / "stage0").read_text() == "kept"

    with pytest.raises(ValueError):
        with stage_scratch(_stub_session("yarn"), None,
                           "spark_graft_test_"):
            pass
