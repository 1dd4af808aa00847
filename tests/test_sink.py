"""The checking, publishing sink ``readers.write_output``: a table is
published whole, after its gates pass, with a manifest that carries
its read schema; a failed write or gate leaves the previous table and
no staging directory; an interrupted publish is repaired on the next
write."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.quality import DataQualityError
from trisk_datawrangle_spark.sources.readers import (
    read_manifest,
    read_table,
    write_output,
)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _siblings(path):
    parent, name = os.path.split(path)
    return sorted(n for n in os.listdir(parent) if n.startswith(".") and name in n)


def test_failed_write_keeps_previous_table(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    write_output(spark.range(3).withColumn("v", F.col("id") * 2), path)
    before = _rows(spark, path)

    @F.udf("long")
    def boom(x):
        if x == 7:
            raise ValueError("bad row")
        return x

    with pytest.raises(Exception, match="bad row"):
        write_output(spark.range(10).withColumn("v", boom("id")), path)
    assert _rows(spark, path) == before
    assert _siblings(path) == []


def test_failed_gate_publishes_nothing(spark, tmp_path):
    path = str(tmp_path / "g.parquet")
    old = spark.range(4).withColumn("v", F.lit(0.5))
    write_output(old, path, gates={"v outside [0, 1]": F.col("v") > 1})
    before = _rows(spark, path)
    new = spark.range(100).withColumn("v", F.col("id") / 10)
    with pytest.raises(DataQualityError) as ei:
        write_output(new, path, gates={
            "v outside [0, 1]": F.col("v") > 1,
            "v NULL": F.col("v").isNull(),
        })
    msg = str(ei.value)
    assert "'v outside [0, 1]' failed on 89 rows" in msg
    assert msg.count("), (") == 4  # five offending rows named
    assert _rows(spark, path) == before
    assert _siblings(path) == []
    assert read_manifest(spark, path)["gates"] == {"v outside [0, 1]": 0}


def test_manifest_is_what_a_read_returns(spark, tmp_path):
    """Partition values that look numeric are typed by discovery, as a
    plain parquet read types them; rows, files and bytes are counted."""
    path = str(tmp_path / "m.parquet")
    df = spark.range(6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("part"),
        F.when(F.col("id") > 0, F.col("id")).alias("maybe"),
    )
    m = write_output(df, path, partition_by=["part"])
    read = spark.read.parquet(path)
    assert m == read_manifest(spark, path)
    assert m["schema"] == read.schema.jsonValue()
    assert dict(read.dtypes)["part"] == "int"
    assert read_table(spark, path).schema == read.schema
    assert m["rows"] == 6 and m["files"] >= 2
    parts = [
        os.path.join(d, n) for d, _, ns in os.walk(path)
        for n in ns if n.startswith("part-")
    ]
    assert m["files"] == len(parts)
    assert m["bytes"] == sum(os.path.getsize(p) for p in parts)
    # an empty partitioned write has no partition directory to
    # discover; its manifest still names every column
    empty = str(tmp_path / "e.parquet")
    m = write_output(df.limit(0), empty, partition_by=["part"])
    assert m["rows"] == 0 and m["files"] == 0
    assert read_table(spark, empty).columns == ["id", "maybe", "part"]


def test_stale_staging_is_deleted(spark, tmp_path):
    """Crash before the swap: the staged files are abandoned, the next
    write publishes its own rows and leaves no sibling."""
    path = str(tmp_path / "s.parquet")
    spark.range(50).write.parquet(str(tmp_path / ".compact-tmp-s.parquet"))
    write_output(spark.range(3), path)
    assert _rows(spark, path) == [(0,), (1,), (2,)]
    assert _siblings(path) == []


def test_trash_without_table_is_promoted(spark, tmp_path):
    """Crash between the two renames: the complete staged table is
    promoted before the next write, so a write that then fails its
    gate leaves that table, not nothing."""
    path = str(tmp_path / "p.parquet")
    write_output(spark.range(2), path)
    staged = str(tmp_path / ".compact-tmp-p.parquet")
    write_output(spark.range(5), staged)
    os.rename(path, str(tmp_path / ".compact-trash-p.parquet"))
    with pytest.raises(DataQualityError):
        write_output(spark.range(1), path, gates={"any": F.lit(True)})
    assert _rows(spark, path) == [(i,) for i in range(5)]
    assert _siblings(path) == []
