"""Small-file compaction: content preserved exactly, offending
partitions shrink to the computed file count, healthy partitions'
files are physically untouched, crash leftovers are cleaned.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from trisk_datawrangle_spark.sources.compaction import (
    compact_partitions,
    partition_file_stats,
)


def _files(leaf):
    return sorted(
        f for f in os.listdir(leaf)
        if not f.startswith((".", "_")) and f.endswith(".parquet")
    )


def _mk_table(spark, path):
    # partition a: 12 tiny files; partition b: 1 file (healthy)
    a = spark.range(0, 1200).select(
        F.col("id"), F.lit("a").alias("part"),
        (F.col("id") * 3).alias("v"),
    ).repartition(12)
    b = spark.range(2000, 2100).select(
        F.col("id"), F.lit("b").alias("part"),
        (F.col("id") * 3).alias("v"),
    ).coalesce(1)
    a.write.partitionBy("part").mode("overwrite").parquet(path)
    b.write.partitionBy("part").mode("append").parquet(path)


def test_compaction_preserves_rows_and_skips_healthy(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    before = {
        (r.id, r.part, r.v)
        for r in spark.read.parquet(path).collect()
    }
    healthy_before = _files(f"{path}/part=b")
    stats = {s["leaf"].split("part=")[1]: s
             for s in partition_file_stats(spark, path, ["part"])}
    assert stats["a"]["n_files"] == 12
    assert stats["b"]["n_files"] == 1

    rep = compact_partitions(
        spark, path, ["part"], target_bytes=10**9, max_files=4
    )
    assert rep["examined"] == 2
    assert rep["compacted"] == 1
    assert rep["files_before"] == 13
    assert rep["files_after"] == 2  # 1 compacted + 1 healthy

    after = {
        (r.id, r.part, r.v)
        for r in spark.read.parquet(path).collect()
    }
    assert after == before
    assert len(_files(f"{path}/part=a")) == 1
    # healthy partition: same file names, untouched
    assert _files(f"{path}/part=b") == healthy_before
    # no residue
    assert not os.path.exists(f"{path}/.compact-tmp-part=a")
    assert not os.path.exists(f"{path}/.compact-trash-part=a")


def test_recovery_crash_after_tmp_write(spark, tmp_path):
    """Crash window 1: tmp written, swap not started — originals are
    the truth; recovery abandons the tmp."""
    import shutil

    path = str(tmp_path / "tbl2")
    _mk_table(spark, path)
    before = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    spark.read.parquet(f"{path}/part=a").coalesce(1).write.parquet(
        f"{path}/.compact-tmp-part=a"
    )
    rep = compact_partitions(
        spark, path, ["part"], target_bytes=10**9, max_files=4
    )
    assert rep["recovered"] == 1 and rep["compacted"] == 1
    after = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert not os.path.exists(f"{path}/.compact-tmp-part=a")


def test_recovery_crash_between_renames(spark, tmp_path):
    """Crash window 2: leaf renamed to trash, tmp not yet promoted —
    recovery promotes the complete tmp. No rows lost."""
    path = str(tmp_path / "tbl3")
    _mk_table(spark, path)
    before = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    # simulate: full tmp write + leaf->trash rename, then 'crash'
    spark.read.parquet(f"{path}/part=a").coalesce(1).write.parquet(
        f"{path}/.compact-tmp-part=a"
    )
    os.rename(f"{path}/part=a", f"{path}/.compact-trash-part=a")
    rep = compact_partitions(
        spark, path, ["part"], target_bytes=10**9, max_files=4
    )
    assert rep["recovered"] == 1
    after = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert not os.path.exists(f"{path}/.compact-trash-part=a")
    assert not os.path.exists(f"{path}/.compact-tmp-part=a")


def test_recovery_crash_before_trash_delete(spark, tmp_path):
    """Crash window 3: promotion done, trash not deleted — recovery
    just drops the trash."""
    import shutil

    path = str(tmp_path / "tbl4")
    _mk_table(spark, path)
    before = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    shutil.copytree(f"{path}/part=b", f"{path}/.compact-trash-part=b")
    rep = compact_partitions(
        spark, path, ["part"], target_bytes=10**9, max_files=4
    )
    assert rep["recovered"] == 1
    after = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert not os.path.exists(f"{path}/.compact-trash-part=b")


def test_compaction_respects_target_bytes(spark, tmp_path):
    path = str(tmp_path / "tbl3")
    _mk_table(spark, path)
    total = sum(
        s["bytes"]
        for s in partition_file_stats(spark, path, ["part"])
        if "part=a" in s["leaf"]
    )
    # force ~3 output files
    rep = compact_partitions(
        spark, path, ["part"], target_bytes=total // 3 + 1, max_files=4
    )
    assert rep["compacted"] == 1
    assert 2 <= len(_files(f"{path}/part=a")) <= 3
    assert spark.read.parquet(path).filter("part = 'a'").count() == 1200

