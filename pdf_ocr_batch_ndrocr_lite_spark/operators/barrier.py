"""The one lineage cut (`materialize`) and scratch rule (`stage_scratch`)
for operators, plans and jobs: the durable-vs-executor-local choice, and
so what a lost executor costs, is made here."""

from __future__ import annotations

import contextlib
import shutil
import tempfile
from typing import Iterator, Optional

from pyspark.sql import DataFrame


def materialize(df: DataFrame, name: str,
                scratch: Optional[str] = None) -> DataFrame:
    """``df`` cut from its lineage, so later references read stored rows
    instead of re-running (and re-planning) the upstream subtree.

    With ``scratch``: a parquet write to ``{scratch}/{name}`` now, read
    back as a fresh file relation.  Durable: a lost executor costs a
    re-read.  On a non-local master ``scratch`` must be shared storage.

    Without: a lazy ``localCheckpoint``.  The first action stores the rows
    in the computing executors' block managers; nothing goes to shared
    storage, but the lineage is gone, so losing an executor that holds
    blocks fails the job instead of recomputing them."""
    if scratch is None:
        return df.localCheckpoint(eager=False)
    path = f"{scratch}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


@contextlib.contextmanager
def stage_scratch(spark, scratch: Optional[str],
                  prefix: str) -> Iterator[str]:
    """The scratch directory for one job's durable barriers.

    A caller-given ``scratch`` is used and never deleted.  Without one, a
    local master gets a fresh ``{prefix}*`` temp dir that this context
    owns and removes on exit, even when the body raises; any other master
    raises ValueError on entry, before the body runs a Spark job, because
    executors cannot read the driver's temp dir."""
    if scratch is not None:
        yield scratch
        return
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        raise ValueError(
            f"no scratch path under master={master!r}: executors cannot "
            "read the driver's temp dir — pass shared storage (HDFS/S3) "
            "as scratch_dir / --curate-scratch")
    own = tempfile.mkdtemp(prefix=prefix)
    try:
        yield own
    finally:
        shutil.rmtree(own, ignore_errors=True)


def delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API, so shared
    scratch (hdfs://, s3a://) is reclaimed too; shutil would no-op."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)
