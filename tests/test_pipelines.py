"""Semantic unit tests for the §3 pipeline reproductions
(plans/abcd.py, plans/financial.py) on small hand-built inputs.

Each case pins one reference behavior cited in SURVEY.md: all-NULL
aggregation (A2), spine density (T1), interior interpolation + LOCF +
zero-fill (W8/W7), EF mean-imputation (A3+J1), dead-series removal
(A9+J4), closest-parent inheritance (J9), layered median cascade
(A4×3), provenance ratios (F13).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.plans.abcd import (
    prepare_abcd_data,
    prepare_asset_impact_data,
)
from trisk_datawrangle_spark.plans.financial import (
    INDICATORS,
    prepare_financial_data,
)

WIDE_COLS = [
    "company_id",
    "company_name",
    "ald_sector",
    "ald_business_unit",
    "ald_location",
    "activity_unit",
    "Equity Ownership 2022",
    "Equity Ownership 2023",
    "Equity Ownership 2024",
    "Equity Ownership 2025",
]


def _wide(spark, rows):
    return spark.createDataFrame(
        rows,
        "company_id long, company_name string, ald_sector string, "
        "ald_business_unit string, ald_location string, activity_unit string, "
        "`Equity Ownership 2022` double, `Equity Ownership 2023` double, "
        "`Equity Ownership 2024` double, `Equity Ownership 2025` double",
    )


@pytest.fixture(scope="module")
def activities(spark):
    return _wide(
        spark,
        [
            # duplicate key rows: sum-or-null must add 10+5, keep gap in 2023
            (1, "Acme Power", "Power", "GasCap", "DE", "MW", 10.0, None, 30.0, 40.0),
            (1, "Acme Power", "Power", "GasCap", "DE", "MW", 5.0, None, None, None),
            # second location rolls up into the company series
            (1, "Acme Power", "Power", "GasCap", "FR", "MW", 1.0, None, 1.0, 1.0),
            # all-NULL series → dead, must be dropped (A9)
            (2, "Dead Co", "Power", "CoalCap", "US", "MW", None, None, None, None),
            # unknown owner dropped at ingest
            (3, "Unknown Owner", "Power", "GasCap", "US", "MW", 9.0, 9.0, 9.0, 9.0),
            # automotive: technology recode ICE Diesel → ICE
            (4, "Car Co", "Automotive", "ICE Diesel", "JP", "# vehicles",
             100.0, 110.0, None, 130.0),
        ],
    )


@pytest.fixture(scope="module")
def emissions(spark):
    return _wide(
        spark,
        [
            (1, "Acme Power", "Power", "GasCap", "DE", "tCO2",
             32.0, None, 62.0, 82.0),
            (1, "Acme Power", "Power", "GasCap", "FR", "tCO2",
             2.0, None, 2.0, 2.0),
            # Car Co has no emissions → EF imputed from sector average
        ],
    )


@pytest.fixture(scope="module")
def abcd(activities, emissions):
    return prepare_abcd_data(
        activities, emissions, start_year=2022, time_horizon=3
    ).cache()


def test_asset_impact_sum_or_null(spark, activities):
    long = prepare_asset_impact_data(activities)
    row = {
        r["year"]: r["value"]
        for r in long.filter(
            (F.col("company_id") == 1) & (F.col("ald_location") == "DE")
        ).collect()
    }
    assert row[2022] == 15.0  # duplicate rows summed
    assert row[2023] is None  # all inputs NULL → NULL, not 0 (A2)


def test_asset_impact_recodes(spark, activities):
    long = prepare_asset_impact_data(activities)
    assert long.filter(F.col("company_name") == "Unknown Owner").count() == 0
    assert (
        long.filter(F.col("company_id") == 4)
        .select("ald_business_unit")
        .distinct()
        .collect()[0][0]
        == "ICE"
    )


def test_spine_dense_and_interpolated(abcd):
    acme = {
        r["year"]: r["plan_tech_prod"]
        for r in abcd.filter(F.col("company_id") == 1).collect()
    }
    assert sorted(acme) == [2022, 2023, 2024, 2025]
    # 2022: 15 (DE, dup summed) + 1 (FR) = 16; 2024: 30 + 1 = 31
    assert acme[2022] == 16.0
    # 2023 is a gap → linear midpoint of 16 and 31
    assert acme[2023] == pytest.approx(23.5)
    assert acme[2025] == 41.0


def test_zero_fill_and_locf(abcd):
    car = {
        r["year"]: r["plan_tech_prod"]
        for r in abcd.filter(F.col("company_id") == 4).collect()
    }
    # 2024 gap interpolates between 110 and 130
    assert car[2024] == pytest.approx(120.0)
    assert car[2025] == 130.0


def test_dead_series_dropped(abcd):
    assert abcd.filter(F.col("company_id") == 2).count() == 0


def test_emission_factor_and_imputation(abcd):
    acme_2022 = abcd.filter(
        (F.col("company_id") == 1) & (F.col("year") == 2022)
    ).collect()[0]
    # EF = (32+2)/(15+1)
    assert acme_2022["plan_emission_factor"] == pytest.approx(34.0 / 16.0)
    assert acme_2022["emissions_factor_unit"] == "tCO2/MW"
    # Car Co has no emissions; EF imputed = sector (Automotive) average
    # over its own all-NULL pool is NULL-propagating, so it inherits
    # the Automotive mean of existing EFs → stays NULL only if pool
    # empty; assert the column exists and production survived
    car = abcd.filter(F.col("company_id") == 4)
    assert car.count() == 4


def test_asset_id_and_geography(abcd):
    rows = abcd.filter(F.col("company_id") == 1).select(
        "asset_id", "scenario_geography", "country_iso2"
    ).distinct().collect()
    assert rows[0]["asset_id"] == "1_1"
    assert rows[0]["scenario_geography"] == "Global"
    assert rows[0]["country_iso2"] == "DE"  # min location = HQ pick


def test_first_year_positive_gate(spark, abcd):
    """P9: a live series whose first-year production is 0 is dropped;
    asset ids are numbered before the gate, so the series kept beside
    it stays the company's second asset."""
    # Acme starts at 16 > 0, Car Co at 100 > 0 → both survive
    assert abcd.select("company_id").distinct().count() == 2
    activities = _wide(spark, [
        (7, "Gate Co", "Power", "CoalCap", "DE", "MW", 0.0, 5.0, 5.0, 5.0),
        (7, "Gate Co", "Power", "GasCap", "DE", "MW", 3.0, 3.0, 3.0, 3.0),
    ])
    out = prepare_abcd_data(
        activities, _wide(spark, []), start_year=2022, time_horizon=3
    )
    rows = out.select("ald_business_unit", "asset_id").distinct().collect()
    assert [tuple(r) for r in rows] == [("GasCap", "7_2")]


@pytest.mark.parametrize("partitions", [1, 8])
def test_sums_are_exact_in_any_row_order(spark, tmp_path, partitions):
    """Three raw rows recode to one key (ICE Diesel/Gasoline/CNG →
    ICE, same company, location and year) with 2022 values 1e16, 1.0
    and -1e16, one row per input file. A double sum gives 0.0 or 1.0
    depending on the order rows arrive in; the exact sum is 1.0 in
    all 6 orders, at any shuffle-partition count."""
    techs = ("ICE Diesel", "ICE Gasoline", "ICE CNG")
    emissions = _wide(spark, [])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for i, order in enumerate(itertools.permutations((1e16, 1.0, -1e16))):
            files = [str(tmp_path / f"order{i}" / tech) for tech in techs]
            for path, tech, value in zip(files, techs, order):
                _wide(spark, [
                    (5, "Car Co", "Automotive", tech, "JP", "# vehicles",
                     value, 5.0, 5.0, 5.0),
                ]).coalesce(1).write.parquet(path)
            out = prepare_abcd_data(
                spark.read.parquet(*files), emissions,
                start_year=2022, time_horizon=3,
            )
            got = {r["year"]: r["plan_tech_prod"] for r in out.collect()}
            assert got == {2022: 1.0, 2023: 15.0, 2024: 15.0, 2025: 15.0}, order
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_sums_raise_rather_than_drop_a_value(spark):
    """A value or a sum that does not fit DECIMAL(38, 18) raises an
    error naming the column; as a NULL from the cast it would drop out
    of the sum (1e21 + 1.0 would read 1.0). NaN is skipped like NULL,
    as R's ``sum(na.rm = TRUE)``."""

    def plan_tech_prod_2022(a, b):
        activities = _wide(spark, [
            (5, "Car Co", "Automotive", tech, "JP", "# vehicles",
             value, 5.0, 5.0, 5.0)
            for tech, value in (("ICE Diesel", a), ("ICE Gasoline", b))
        ])
        out = prepare_abcd_data(
            activities, _wide(spark, []), start_year=2022, time_horizon=3
        )
        return {r["year"]: r["plan_tech_prod"] for r in out.collect()}[2022]

    assert plan_tech_prod_2022(float("nan"), 1.0) == 1.0
    for a, b in ((1e21, 1.0), (float("-inf"), 1.0)):
        with pytest.raises(Exception, match="abcd: a value of value does not fit"):
            plan_tech_prod_2022(a, b)
    with pytest.raises(Exception, match="abcd: the sum of value does not fit"):
        plan_tech_prod_2022(6e19, 6e19)


# ------------------------------------------------------------------ #
# financial pipeline                                                  #
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def fin_inputs(spark):
    eikon = spark.createDataFrame(
        [
            # company 1: two ISINs → median of 0.2/0.4 = 0.3 for pd
            ("DE000A", 1, "DE", "EU", 0.2, 0.10, 1.0, 0.5),
            ("DE000B", 1, "DE", "EU", 0.4, 0.30, 3.0, 0.7),
            # company 2: npm 5.0 implausible (outside [0,1]) → nulled
            ("US000C", 2, "US", "NA", 0.6, 5.0, 2.0, 0.6),
            # orphan ISIN: no company_id → dropped by the inner join
            ("FR000D", None, "FR", "EU", 0.9, 0.9, 9.0, 0.9),
        ],
        "isin string, company_id long, ald_location string, region string, "
        "pd double, net_profit_margin double, debt_equity_ratio double, "
        "volatility double",
    )
    companies = spark.createDataFrame(
        [(1, "Power"), (2, "Power"), (3, "Power"), (9, "Power")],
        "company_id long, ald_sector string",
    )
    tree = spark.createDataFrame(
        [
            # company 3's closest parent (level 1) is company 1;
            # a farther ancestor (level 2) is company 2 — must lose
            (1, 3, 1.0, 1),
            (2, 3, 1.0, 2),
        ],
        "parent_company_id long, subsidiary_company_id long, "
        "linking_stake double, ownership_level int",
    )
    return eikon, companies, tree


@pytest.fixture(scope="module")
def fin(spark, fin_inputs):
    eikon, companies, tree = fin_inputs
    return prepare_financial_data(
        eikon, companies, tree, min_sample_size=2
    ).cache()


def test_financial_medians_and_npm_gate(fin):
    r1 = fin.filter(F.col("company_id") == 1).collect()[0]
    assert r1["pd"] == pytest.approx(0.3)  # median of 0.2, 0.4
    assert r1["net_profit_margin"] == pytest.approx(0.2)  # median 0.1/0.3
    r2 = fin.filter(F.col("company_id") == 2).collect()[0]
    # npm 5.0 nulled → imputed from the (sector) pool, provenance 0
    assert r2["net_profit_margin_rawdata_ratio"] == 0.0
    assert r2["pd_rawdata_ratio"] == 1.0


def test_closest_parent_inheritance(fin):
    r3 = fin.filter(F.col("company_id") == 3).collect()[0]
    # inherits company 1 (level 1), not company 2 (level 2)
    assert r3["pd"] == pytest.approx(0.3)
    assert r3["volatility"] == pytest.approx(0.6)


def test_uncovered_company_gets_cascade_average(fin):
    r9 = fin.filter(F.col("company_id") == 9).collect()[0]
    assert r9["pd"] is not None  # filled from an average layer
    assert r9["rawdata_ratio"] == 0.0


def test_one_row_per_company(fin):
    assert fin.count() == 4
    assert fin.select("company_id").distinct().count() == 4


def test_multisector_company_keeps_all_sector_rows(spark, fin_inputs):
    """A company listed under several sectors with no direct record
    must surface one row PER sector — via parent inheritance where
    the parent covers the sector, else via cascade averages."""
    eikon, companies, tree = fin_inputs
    multi = companies.unionByName(
        spark.createDataFrame(
            [(3, "Oil&Gas"), (9, "Oil&Gas")],
            "company_id long, ald_sector string",
        )
    )
    out = prepare_financial_data(eikon, multi, tree, min_sample_size=2)
    pairs = {
        (r.company_id, r.ald_sector)
        for r in out.select("company_id", "ald_sector").collect()
    }
    # every (company, sector) pair survives — the company-keyed
    # keep-one window previously dropped one of company 3's sectors
    assert {(3, "Power"), (3, "Oil&Gas"), (9, "Power"), (9, "Oil&Gas")} <= pairs
    assert out.count() == out.select("company_id", "ald_sector").distinct().count()
    # the parent (company 1, Power) covers only Power: sector match →
    # inherited medians for (3, Power); (3, Oil&Gas) falls back to
    # cascade averages with zero raw-data provenance
    r3p = out.filter((F.col("company_id") == 3) & (F.col("ald_sector") == "Power")).collect()[0]
    assert r3p["pd"] == pytest.approx(0.3)
    r3o = out.filter((F.col("company_id") == 3) & (F.col("ald_sector") == "Oil&Gas")).collect()[0]
    assert r3o["rawdata_ratio"] == 0.0


# ------------------------------------------------------------------ #
# rewritten operators against their join / unpivot formulation       #
# ------------------------------------------------------------------ #


def _spine_by_join(df, group_cols, x_col, bounds, lo, hi, step):
    """``complete_spine`` as a left join of a distinct-keys spine onto
    ``df``: the formulation the one-aggregate version must match."""
    if bounds == "group":
        keys = df.groupBy(*group_cols).agg(
            F.min(x_col).alias("__lo"), F.max(x_col).alias("__hi")
        )
    else:
        agg = df.agg(F.min(x_col).alias("__dlo"), F.max(x_col).alias("__dhi"))
        keys = df.select(*group_cols).distinct().crossJoin(agg).select(
            *group_cols,
            (F.lit(lo) if lo is not None else F.col("__dlo")).alias("__lo"),
            (F.lit(hi) if hi is not None else F.col("__dhi")).alias("__hi"),
        )
    spine = keys.select(
        *group_cols,
        F.explode(F.sequence("__lo", "__hi", F.lit(step))).alias(x_col),
    )
    return spine.join(df, list(group_cols) + [x_col], "left")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


SPINE_CASES = {
    "group": dict(bounds="group"),
    "global": dict(bounds="global"),
    "fixed_narrower": dict(bounds="fixed", lo=2022, hi=2024),
    "fixed_wider": dict(bounds="fixed", lo=2016, hi=2032),
    "fixed_lo_only": dict(bounds="fixed", lo=2017),
    "fixed_hi_only": dict(bounds="fixed", hi=2031),
}


@pytest.mark.parametrize("step", [1, 2])
@pytest.mark.parametrize("case", sorted(SPINE_CASES))
def test_complete_spine_matches_the_join(spark, case, step):
    """NULL keys, NULL years, duplicate (key, year) rows and years off
    a step-2 grid, under every bounds mode, give the same rows and
    columns as the spine left-joined onto the data; so does an empty
    input."""
    from trisk_datawrangle_spark.operators.spine import complete_spine

    schema = "g string, h int, v double, year int, tag string"
    rows = [
        ("a", 1, 1.0, 2020, "x"), ("a", 1, 2.0, 2020, "y"),  # duplicate
        ("a", 1, 3.0, 2023, None), ("a", 1, 4.0, 2026, "z"),
        ("a", 1, 5.0, None, "n"),                              # NULL year
        ("a", 2, None, 2021, "w"), ("a", 2, 6.0, 2025, None),
        (None, 1, 7.0, 2019, "k"), (None, 1, 8.0, 2024, "k"),  # NULL key
        ("b", None, 9.0, 2022, "m"),                            # NULL key
        ("c", 3, None, None, None),                             # no year
        ("d", 4, 10.0, 2028, "q"),
    ]
    opts = SPINE_CASES[case]
    for data in (rows, []):
        df = spark.createDataFrame(data, schema)
        got = complete_spine(df, ["g", "h"], "year", step=step, **opts)
        want = _spine_by_join(
            df, ["g", "h"], "year", opts["bounds"], opts.get("lo"),
            opts.get("hi"), step,
        )
        assert got.dtypes == want.dtypes
        assert _rows(got) == _rows(want), (case, step, len(data))


@pytest.mark.parametrize(
    "pattern,columns",
    [
        (r"(\d{4})", ["2021", "Equity Ownership 2022", "2023"]),
        (r"FY(\d{2})", ["FY21", "FY22", "FY23"]),
    ],
)
def test_melt_year_columns_matches_unpivot(spark, pattern, columns):
    """Mixed int/double year columns with NULLs melt to the rows and
    types ``unpivot`` gives, with the year from ``pattern``'s group."""
    from trisk_datawrangle_spark.operators.reshape import melt_year_columns

    df = spark.createDataFrame(
        [("a", "u", 1, 2.5, None), ("b", None, None, -1.0, 7)],
        f"k string, other string, `{columns[0]}` int, "
        f"`{columns[1]}` double, `{columns[2]}` bigint",
    )
    got = melt_year_columns(df, ["k"], pattern=pattern, value_name="v")
    want = (
        df.unpivot(["k"], columns, "__name", "v")
        .withColumn("year", F.regexp_extract("__name", pattern, 1).cast("int"))
        .drop("__name")
    )
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)


def test_clone_recode_matches_filter_union(spark):
    """Rows where the predicate holds come back twice, the copy
    recoded; a NULL predicate clones nothing."""
    from trisk_datawrangle_spark.operators.setops import clone_recode

    df = spark.createDataFrame(
        [("GasCap", 1, 0.5), ("CoalCap", 2, None), (None, 3, 1.0), ("GasCap", 4, None)],
        "tech string, n int, v double",
    )
    pred = F.col("tech") == "GasCap"
    got = clone_recode(df, pred, {"tech": "OilCap", "n": F.col("n") + 10})
    clone = df.filter(pred).withColumns({"tech": F.lit("OilCap"), "n": F.col("n") + 10})
    want = df.unionByName(clone)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)
