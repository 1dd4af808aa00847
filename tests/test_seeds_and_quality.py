"""S7 shipped seed datasets + Q7 row-diff report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.quality import row_diff_report
from trisk_datawrangle_spark.sources.seeds import (
    SEED_NAMES,
    load_seed,
    load_seeds,
    seed_path,
)


def test_seed_files_ship_with_package(spark):
    seeds = load_seeds(spark)
    assert set(seeds) == set(SEED_NAMES)
    geo = seeds["scenarios_geographies"]
    assert set(geo.columns) == {
        "scenario_geography",
        "country_iso",
        "reg_count",
        "scenario_geography_newname",
        "country",
    }
    # reg_count is consistent with the actual member count per geography
    bad = (
        geo.groupBy("scenario_geography", "reg_count")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") != F.col("reg_count"))
        .count()
    )
    assert bad == 0
    pt = seeds["production_types"]
    assert pt.filter(F.col("ald_sector") == "Power").count() == 6
    uc = seeds["unit_conversions"]
    assert uc.count() == 7 and "factor" in uc.columns


def test_seed_path_rejects_unknown():
    with pytest.raises(KeyError):
        seed_path("nope")


def test_row_diff_report_directions(spark):
    base = spark.range(10)
    removed = row_diff_report(
        base, base.filter("id < 4"), cause="trim"
    ).collect()[0]
    assert (
        removed["initial_rows"],
        removed["final_rows"],
        removed["diff"],
        removed["status"],
        removed["cause"],
    ) == (10, 4, 6, "removed", "trim")
    added = row_diff_report(base, base.unionAll(base)).collect()[0]
    assert added["status"] == "added" and added["diff"] == -10
    same = row_diff_report(base, base).collect()[0]
    assert same["status"] == "unchanged" and same["diff"] == 0


def test_seed_loads_are_broadcast_sized(spark):
    # every seed is dimension-sized; guard against accidental bloat
    for name in SEED_NAMES:
        assert load_seed(spark, name).count() < 1000


def test_fk_orphans_match_simple_semantics(spark):
    """fk_orphans: composite-key orphans reported with row counts,
    any-NULL child tuples exempt (SQL MATCH SIMPLE), cross-named
    keys aliased; assert_fk raises with the worst offenders named."""
    from trisk_datawrangle_spark.operators.quality import (
        DataQualityError,
        assert_fk,
        fk_orphans,
    )

    child = spark.createDataFrame(
        [
            ("a", 1, 1.0),
            ("a", 1, 2.0),
            ("b", 2, 3.0),
            ("zz", 9, 4.0),   # orphan, two rows
            ("zz", 9, 5.0),
            (None, 1, 6.0),   # NULL in tuple -> exempt
            ("a", None, 7.0),
        ],
        "k1 string, k2 int, v double",
    )
    parent = spark.createDataFrame(
        [("a", 1), ("b", 2)], "p1 string, p2 int"
    )
    got = {
        (r.k1, r.k2): r.orphan_rows
        for r in fk_orphans(child, parent, {"k1": "p1", "k2": "p2"}).collect()
    }
    assert got == {("zz", 9): 2}
    with pytest.raises(DataQualityError, match="zz"):
        assert_fk(child, parent, {"k1": "p1", "k2": "p2"})
    # clean child passes through unchanged
    clean = child.filter(F.col("k1") != "zz")
    assert assert_fk(clean, parent, {"k1": "p1", "k2": "p2"}) is clean
    # an int child key against a long parent key compares as long, as
    # the per-reference join does (as int, 2**40 + 2 would wrap to 2);
    # the orphans keep the child's type
    longs = spark.createDataFrame([(1,), (2**40 + 2,)], "p2 bigint")
    got = fk_orphans(child, longs, {"k2": "p2"})
    assert dict(got.dtypes)["k2"] == "int"
    assert sorted((r.k2, r.orphan_rows) for r in got.collect()) == [
        (2, 1), (9, 2)
    ]


def test_fk_audit_is_the_per_reference_join(spark):
    """fk_audit: many references of mixed arity and key types in one
    call give, per reference, what the single-reference operator
    gives: orphan keys, orphan rows, and the worst tuples first."""
    from trisk_datawrangle_spark.operators.quality import fk_audit, fk_orphans

    child = spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2), ("b", 2, 2), ("c", 3, None),
         ("d", None, 4), ("d", 4, 4)],
        "s string, i int, j int",
    )
    parent = spark.createDataFrame(
        [("a", 1, 10), ("c", 3, 2), (None, None, 4)],
        "s string, i int, l bigint",
    )
    refs = [
        (child, parent, ["s", "i"]),
        (child, parent, {"j": "l"}),
        (child, parent, {"i": "i", "s": "s"}),
        (parent, child, {"l": "j"}),
        (child, parent, {"s": "s"}),
    ]
    found = fk_audit(refs, top=2)
    assert [a.pairs for a in found] == [
        [("s", "s"), ("i", "i")], [("j", "l")], [("i", "i"), ("s", "s")],
        [("l", "j")], [("s", "s")],
    ]
    for (c, p, keys), a in zip(refs, found):
        one = fk_orphans(c, p, keys)
        rows = sorted(
            (tuple(r) for r in one.collect()),
            key=lambda t: (-t[-1], t[:-1]),
        )
        assert a.orphan_keys == len(rows)
        assert a.orphan_rows == sum(t[-1] for t in rows)
        assert list(a.top) == rows[:2]
    assert [(a.orphan_keys, a.orphan_rows) for a in found] == [
        (2, 3), (1, 1), (2, 3), (1, 1), (2, 4)
    ]
    assert found[0].top == (("b", 2, 2), ("d", 4, 1))
    assert found[4].top == (("b", 2), ("d", 2))
    assert fk_audit([]) == []


def test_fk_orphans_shared_names_and_empty_child(spark):
    from trisk_datawrangle_spark.operators.quality import fk_orphans

    child = spark.createDataFrame([(1,), (3,)], "id int")
    parent = spark.createDataFrame([(1,), (2,)], "id int")
    assert [
        (r.id, r.orphan_rows)
        for r in fk_orphans(child, parent, ["id"]).collect()
    ] == [(3, 1)]
    empty = child.filter(F.lit(False))
    assert fk_orphans(empty, parent, ["id"]).count() == 0
