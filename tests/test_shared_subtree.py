"""share(df, source): a subtree several consumers read is materialized
unless its source's scan input is provably small. Each branch of the size
gate gets one test; every unknown fails toward materializing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from zenodb_spark.operators import util
from zenodb_spark.operators.util import share


def _is_checkpointed(df) -> bool:
    # a localCheckpoint truncates the plan to a LogicalRDD leaf
    return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()


@pytest.fixture
def parquet(spark, tmp_path):
    def write(rows: int, files: int = 1):
        p = str(tmp_path / f"src_{rows}_{files}.parquet")
        spark.range(0, rows, 1, files).write.parquet(p)
        return spark.read.parquet(p)

    return write


def test_below_gate_passes_through(parquet):
    df = parquet(100).withColumn("y", F.col("id") * 2)
    out = share(df)
    assert out is df  # pass-through, no materialization
    assert out.count() == 100


def test_above_gate_materializes(parquet, monkeypatch):
    monkeypatch.setattr(util, "_SHARE_MIN_BYTES", 1)
    df = parquet(10).withColumn("y", F.col("id") * 2)
    out = share(df)
    assert _is_checkpointed(out)
    assert sorted(r["y"] for r in out.collect()) == [2 * i for i in range(10)]


def test_many_files_materializes(parquet):
    df = parquet(util._SHARE_MANY_FILES, files=util._SHARE_MANY_FILES)
    assert len(df.inputFiles()) == util._SHARE_MANY_FILES
    assert _is_checkpointed(share(df))


def test_source_without_files_materializes(spark):
    # in-memory frames (and frames above a checkpoint) list no scan files:
    # their size is unknown, so the gate fails toward materializing
    df = spark.createDataFrame([Row(x=1), Row(x=2)])
    assert df.inputFiles() == []
    out = share(df)
    assert _is_checkpointed(out)
    assert sorted(r["x"] for r in out.collect()) == [1, 2]


def test_stat_error_materializes(parquet, monkeypatch):
    df = parquet(100)

    def unreadable(path):
        raise OSError("stat failed")

    monkeypatch.setattr(util.os.path, "getsize", unreadable)
    assert _is_checkpointed(share(df))


def test_derived_frame_sized_via_source(parquet, monkeypatch):
    """A frame above another checkpoint lists no files of its own; passing
    the raw scan as ``source`` sizes the decision on that scan (q165's w)."""
    src = parquet(50)
    monkeypatch.setattr(util, "_SHARE_MIN_BYTES", 1)
    base = share(src)
    assert _is_checkpointed(base)
    derived = base.withColumn("y", F.col("id") + 1)
    assert derived.inputFiles() == []
    assert _is_checkpointed(share(derived, source=src))
    monkeypatch.undo()
    # below the gate the small source decides: no materialization
    assert share(derived, source=src) is derived
