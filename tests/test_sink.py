"""The checking, publishing sink ``readers.write_output``: a table is
published whole, after its gates pass, with a manifest that carries
its read schema; a failed write or gate leaves the previous table and
no staging directory; an interrupted publish is repaired on the next
write. Its reader ``readers.read_table`` pins a raw input's schema
from its parquet footers, without a Spark job."""

from __future__ import annotations

import datetime
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
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


def jobs_of(spark, fn, *args):
    """``fn(*args)`` and the ids of the Spark jobs it ran, found under
    a job group of its own; the caller's job group is restored."""
    sc = spark.sparkContext
    group, before = f"jobs_of-{uuid.uuid4()}", sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _pyarrow_file(spark, path):
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", None]}), path)


def _spark_parts(spark, path):
    spark.range(12).selectExpr("id", "cast(id AS string) s").repartition(3).write.parquet(path)


def _pyarrow_parts(spark, path):
    # the layout tests/test_determinism._reverse_and_split writes
    os.makedirs(path)
    for i in range(3):
        pq.write_table(
            pa.table({"k": [i], "v": [i / 2]}), os.path.join(path, f"part-{i}.parquet")
        )


def _hive_parts(spark, path):
    spark.range(6).selectExpr("id", "id % 2 AS year").write.partitionBy("year").parquet(path)


def _tzless_timestamp(spark, path):
    ts = pa.array([datetime.datetime(2020, 1, 1), None], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), path)


@pytest.mark.parametrize(
    "write",
    [_pyarrow_file, _spark_parts, _pyarrow_parts, _hive_parts, _tzless_timestamp],
)
def test_footer_schema_is_inferred_schema_without_a_job(spark, tmp_path, write):
    path = str(tmp_path / "in.parquet")
    write(spark, path)
    df, jobs = jobs_of(spark, read_table, spark, path)
    assert jobs == []
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.collect(), key=str) == sorted(spark.read.parquet(path).collect(), key=str)


def test_footer_schema_follows_session_parquet_settings(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": [b"x", None]}), path)
    assert read_table(spark, path).schema["b"].dataType.simpleString() == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, jobs = jobs_of(spark, read_table, spark, path)
        assert jobs == []
        assert df.schema == spark.read.parquet(path).schema
        assert df.schema["b"].dataType.simpleString() == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def _disagreeing_parts(path):
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "p0.parquet"))
    pq.write_table(pa.table({"a": [1.5]}), os.path.join(path, "p1.parquet"))


def _partition_column_in_data(path):
    # the files hold ``year`` as a string, discovery types it int
    os.makedirs(os.path.join(path, "year=2020"))
    pq.write_table(
        pa.table({"a": [1], "year": ["2020"]}),
        os.path.join(path, "year=2020", "p0.parquet"),
    )


@pytest.mark.parametrize("write", [_disagreeing_parts, _partition_column_in_data])
def test_undecided_footers_fall_back_to_inference(spark, tmp_path, write):
    path = str(tmp_path / "in.parquet")
    write(path)
    df, jobs = jobs_of(spark, read_table, spark, path)
    assert jobs  # the inference job decided
    assert df.schema == spark.read.parquet(path).schema


def test_unreadable_table_fails_as_spark_fails(spark, tmp_path):
    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, missing)
    junk = tmp_path / "junk.parquet"
    junk.write_text("not a parquet file")
    with pytest.raises(Exception, match=re.escape(str(junk))):
        read_table(spark, str(junk))
