"""Incremental merge semantics: upserts replace by key, append new
rows, and physically rewrite only the partitions the update batch
touches.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from trisk_datawrangle_spark.sources.incremental import (
    merge_by_key,
    write_partitioned,
)


def _files(path, part):
    d = os.path.join(path, f"day={part}")
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_merge_by_key_upserts_and_prunes_partitions(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inc")) + "/t"
    base = spark.createDataFrame(
        [
            (1, "d1", 10.0),
            (2, "d1", 20.0),
            (3, "d2", 30.0),
            (4, "d3", 40.0),
        ],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    untouched_before = _files(path, "d3")

    updates = spark.createDataFrame(
        [
            (2, "d1", 99.0),   # replaces id=2
            (5, "d2", 50.0),   # new row in existing partition
            (6, "d4", 60.0),   # brand-new partition
        ],
        "id long, day string, v double",
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])

    got = {
        (r.id, r.day, r.v)
        for r in spark.read.parquet(path).select("id", "day", "v").collect()
    }
    assert got == {
        (1, "d1", 10.0),
        (2, "d1", 99.0),
        (3, "d2", 30.0),
        (4, "d3", 40.0),
        (5, "d2", 50.0),
        (6, "d4", 60.0),
    }
    # the untouched partition's files were not rewritten
    assert _files(path, "d3") == untouched_before


def test_merge_empty_batch_is_noop(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inc")) + "/t"
    base = spark.createDataFrame([(1, "d1", 1.0)], "id long, day string, v double")
    write_partitioned(base, path, ["day"])
    before = _files(path, "d1")
    merge_by_key(
        spark, base.filter(F.lit(False)), path, keys=["id"], partition_by=["day"]
    )
    assert _files(path, "d1") == before
    assert spark.read.parquet(path).count() == 1


def test_merge_handles_null_partition_values(spark, tmp_path_factory):
    """Rows already in a NULL partition must survive a merge into it
    (== lit(None) is NULL, not a match — the filter needs eqNullSafe)."""
    path = str(tmp_path_factory.mktemp("inc")) + "/t"
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "d1", 3.0)],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    updates = spark.createDataFrame([(2, None, 9.0)], "id long, day string, v double")
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])
    got = {
        (r.id, r.day, r.v)
        for r in spark.read.parquet(path).select("id", "day", "v").collect()
    }
    assert got == {(1, None, 1.0), (2, None, 9.0), (3, "d1", 3.0)}


def test_merge_removes_old_row_when_key_moves_partition(spark, tmp_path_factory):
    """An update that moves a key to a new partition must also purge
    the old partition's copy — including when that drains the old
    partition entirely."""
    path = str(tmp_path_factory.mktemp("inc")) + "/t"
    base = spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    # key 1 moves d1 → d3 (d1 keeps key 2); key 3 moves d2 → d3,
    # draining d2 completely
    updates = spark.createDataFrame(
        [(1, "d3", 10.0), (3, "d3", 30.0)], "id long, day string, v double"
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])
    got = {
        (r.id, r.day, r.v)
        for r in spark.read.parquet(path).select("id", "day", "v").collect()
    }
    assert got == {(1, "d3", 10.0), (2, "d1", 2.0), (3, "d3", 30.0)}


def test_merge_by_key_random_batches_match_dict_semantics(spark, tmp_path_factory):
    """Apply a sequence of random update batches; the table must equal
    a dict keyed by id where later batches win."""
    import random

    rng = random.Random(3)
    path = str(tmp_path_factory.mktemp("incp")) + "/t"
    state = {}
    base = [(i, f"d{rng.randint(1, 4)}", float(rng.randint(0, 99))) for i in range(20)]
    for i, d, v in base:
        state[i] = (d, v)
    write_partitioned(
        spark.createDataFrame(base, "id long, day string, v double"),
        path,
        ["day"],
    )
    for _ in range(3):
        batch = [
            (rng.randint(0, 29), f"d{rng.randint(1, 5)}", float(rng.randint(0, 99)))
            for _ in range(8)
        ]
        dedup = {}
        for i, d, v in batch:  # one row per key within a batch
            dedup[i] = (d, v)
        batch = [(i, d, v) for i, (d, v) in dedup.items()]
        merge_by_key(
            spark,
            spark.createDataFrame(batch, "id long, day string, v double"),
            path,
            keys=["id"],
            partition_by=["day"],
        )
        state.update(dedup)
        got = {
            r.id: (r.day, r.v)
            for r in spark.read.parquet(path).select("id", "day", "v").collect()
        }
        assert got == state


def test_merge_with_date_inferred_partition_types(spark, tmp_path_factory):
    """Partition values written as strings re-infer as DateType on
    read; string-normalized bookkeeping must not mis-compare the
    tuples (the old code deleted the partition it had just written)."""
    path = str(tmp_path_factory.mktemp("inc_date")) + "/t"
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    updates = spark.createDataFrame(
        [(1, "2024-01-01", 11.0)], "id long, day string, v double"
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])
    got = {
        (r.id, str(r.day)): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "2024-01-01"): 11.0, (2, "2024-01-02"): 20.0}


def test_merge_key_overlapping_partition_column(spark, tmp_path_factory):
    """A key column that is also a partition column must not make the
    old-partition probe ambiguous."""
    path = str(tmp_path_factory.mktemp("inc_overlap")) + "/t"
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, day string, v double"
    )
    write_partitioned(base, path, ["day"])
    updates = spark.createDataFrame(
        [(1, "a", 99.0)], "id long, day string, v double"
    )
    merge_by_key(
        spark, updates, path, keys=["id", "day"], partition_by=["day"]
    )
    got = {(r.id, r.day): r.v for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"): 99.0, (2, "b"): 20.0}


def test_merge_null_keys_upsert_not_duplicate(spark, tmp_path_factory):
    """A NULL-keyed update must REPLACE the existing NULL-keyed row
    (null-safe key join), not append a duplicate."""
    path = str(tmp_path_factory.mktemp("inc_nullkey")) + "/t"
    base = spark.createDataFrame(
        [(None, "a", 1.0), (2, "a", 2.0)], "id long, day string, v double"
    )
    write_partitioned(base, path, ["day"])
    updates = spark.createDataFrame(
        [(None, "a", 9.0)], "id long, day string, v double"
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2
    got = {r.id: r.v for r in rows}
    assert got[None] == 9.0 and got[2] == 2.0


def test_merge_drains_escaped_partition_dirs(spark, tmp_path_factory):
    """A key move out of a partition whose value needs Hive path
    escaping (':' -> %3A) must still delete the drained directory —
    the old Python str() path never matched the escaped name, so the
    stale rows resurrected."""
    path = str(tmp_path_factory.mktemp("inc_escape")) + "/t"
    base = spark.createDataFrame(
        [(1, "a:b", 1.0), (2, "plain", 2.0)], "id long, day string, v double"
    )
    write_partitioned(base, path, ["day"])
    # id=1 moves out of the 'a:b' partition entirely
    updates = spark.createDataFrame(
        [(1, "plain", 9.0)], "id long, day string, v double"
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["day"])
    rows = spark.read.parquet(path).collect()
    got = {r.id: (r.day, r.v) for r in rows}
    assert got == {1: ("plain", 9.0), 2: ("plain", 2.0)}
    import os

    assert not any("a%3Ab" in d for d in os.listdir(path)), os.listdir(path)


def test_numeric_partition_filter_stays_bare_and_prunes(spark, tmp_path_factory):
    """On an int-partitioned table the existing-side filter must keep
    the partition column BARE (literal cast to the column type, not
    the column coerced to the literal's) — a cast-wrapped column
    defeats pruning and lets >2^53 longs alias through double. Both
    the plan shape and the files-untouched contract are asserted."""
    from trisk_datawrangle_spark.sources.incremental import (
        _partition_filter,
        merge_by_key,
    )

    path = str(tmp_path_factory.mktemp("inc_num")) + "/t"
    base = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)],
        "id long, bucket int, v double",
    )
    write_partitioned(base, path, ["bucket"])
    table = spark.read.parquet(path)
    flt = table.filter(
        _partition_filter({("10",)}, ["bucket"], table.schema)
    )
    plan = flt._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cast(bucket" not in pf[0].lower().replace(" ", ""), plan
    assert flt.count() == 1

    def mtimes(b):
        d = os.path.join(path, f"bucket={b}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = mtimes(30)
    updates = spark.createDataFrame(
        [(1, 10, 9.0)], "id long, bucket int, v double"
    )
    merge_by_key(spark, updates, path, keys=["id"], partition_by=["bucket"])
    assert mtimes(30) == before  # untouched partition never rewritten
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 9.0, 2: 2.0, 3: 3.0}


def test_merge_schema_evolution_explicit_not_silent(spark, tmp_path_factory):
    """A batch with a NEW column is rejected by default (silent drop
    would lose the column's first day); with evolve_schema=True the
    table widens additively — old rows read NULL for the new column,
    the batch's rows carry it, and later default merges still work."""
    import pytest as _pytest

    from trisk_datawrangle_spark.sources.incremental import merge_by_key

    path = str(tmp_path_factory.mktemp("inc_evo")) + "/t"
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"
    )
    write_partitioned(base, path, ["day"])

    upd = spark.createDataFrame(
        [(1, "a", 9.0, "tag1")], "id long, day string, v double, tag string"
    )
    with _pytest.raises(ValueError, match="evolve_schema"):
        merge_by_key(spark, upd, path, keys=["id"], partition_by=["day"])

    merge_by_key(
        spark, upd, path, keys=["id"], partition_by=["day"],
        evolve_schema=True,
    )
    got = {
        r.id: (r.day, r.v, r.tag)
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got == {1: ("a", 9.0, "tag1"), 2: ("b", 2.0, None)}

    # subsequent merge WITHOUT the new column: evolve reads see the
    # widened schema; rows pad NULL
    upd2 = spark.createDataFrame(
        [(3, "b", 3.0)], "id long, day string, v double"
    )
    merge_by_key(
        spark, upd2, path, keys=["id"], partition_by=["day"],
        evolve_schema=True,
    )
    got = {
        r.id: r.tag
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got == {1: "tag1", 2: None, 3: None}


def test_default_merge_on_widened_table_rejects_narrow_batch(
    spark, tmp_path_factory
):
    """After a widening, a DEFAULT merge with a pre-widening batch
    must error, not silently rewrite kept rows without the widened
    column (the single-footer-schema data-loss hazard)."""
    import pytest as _pytest

    from trisk_datawrangle_spark.sources.incremental import merge_by_key

    path = str(tmp_path_factory.mktemp("inc_evo2")) + "/t"
    base = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, day string, v double"
    )
    write_partitioned(base, path, ["day"])
    widened = spark.createDataFrame(
        [(2, "a", 2.0, "t2")], "id long, day string, v double, tag string"
    )
    merge_by_key(
        spark, widened, path, keys=["id"], partition_by=["day"],
        evolve_schema=True,
    )
    narrow = spark.createDataFrame(
        [(1, "a", 9.0)], "id long, day string, v double"
    )
    with _pytest.raises(ValueError, match="missing \\['tag'\\]"):
        merge_by_key(spark, narrow, path, keys=["id"], partition_by=["day"])
    # evolve mode pads instead, and the widened column SURVIVES on
    # the untouched row
    merge_by_key(
        spark, narrow, path, keys=["id"], partition_by=["day"],
        evolve_schema=True,
    )
    got = {
        r.id: (r.v, r.tag)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(path).collect()
    }
    assert got == {1: (9.0, None), 2: (2.0, "t2")}
