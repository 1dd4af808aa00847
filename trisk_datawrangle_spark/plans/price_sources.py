"""Per-source price wranglers (R/prepare_price_data_long.R beyond the
generic chain in :mod:`plans.prices`):

=====================  =============================================
function               reference
=====================  =============================================
wrangle_prices_        prepare_price_data_long_WEO2021 (:11-246):
weo2021                fossil melt + unit conversion + Gas/Coal
                       global-mean rows; power LCOE fan-in (mean),
                       GasCap→OilCap / RenewablesCap→HydroCap
                       placeholder clones, LOCF, global means,
                       dense spine + interpolation, no-NA assert
wrangle_power_lcoe     prepare_price_data_long_Power_IPR2023
                       (:486-627): the power half of the WEO2021
                       chain alone (IPR borrows WEO LCOE data)
wrangle_prices_ngfs    prepare_price_data_long_NGFS2023 (:247-309)
                       and the 2024 variant (:311-374) via
                       ``vintage`` / ``model_recode``
wrangle_prices_ipr     prepare_price_data_long_IPR2023 (:376-483):
                       global coal/gas/oil means (gas via the
                       high/low two-stage mean), unit conversions
ipr_prices_baseline    prepare_price_data_long_IPR2023_baseline
                       (:629-637): WEO2021 STEPS relabeled
wrangle_prices_oxford  prepare_price_data_long_Oxf2021 (:640-747):
                       $/MWh conversions, 2070-2100 extension filled
                       by an OLS fit over the 2049-2069 window
create_automotive_     create_automotive_prices (:750-767):
prices                 unit price 1 wherever the scenario data has
                       an Automotive row
=====================  =============================================

All chains are Catalyst expressions. The global-mean rows are one
extra aggregate over the series keys minus geography; the Oxford OLS
extension computes the normal equations from integer-exact sums and
applies one identical float expression in both engines (the
reference's per-(technology, scenario) ``lm`` loop becomes one
grouped aggregate + broadcast join).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.scalars import UNIT, recode
from trisk_datawrangle_spark.operators.interpolate import fill_locf, na_approx
from trisk_datawrangle_spark.operators.reshape import melt_year_columns
from trisk_datawrangle_spark.operators.setops import union_by_name
from trisk_datawrangle_spark.operators.spine import complete_spine
from trisk_datawrangle_spark.plans.scenario_sources import (
    NGFS_MODEL_RECODE_V4,
    NGFS_SCENARIO_RECODE,
)

__all__ = [
    "wrangle_prices_weo2021",
    "wrangle_power_lcoe",
    "wrangle_prices_ngfs",
    "wrangle_prices_ipr",
    "ipr_prices_baseline",
    "wrangle_prices_oxford",
    "create_automotive_prices",
]

PRICE_SERIES_KEYS = [
    "source",
    "scenario",
    "scenario_geography",
    "sector",
    "technology",
    "indicator",
    "unit",
]

#: raw fossil "sector" label → technology (:55-66; the raw column is
#: misnamed, ADO 1192).
WEO_FOSSIL_TECH_RECODE = {
    "Crude oil": "Oil",
    "IEA crude oil": "Oil",
    "Natural gas": "Gas",
}

#: power LCOE technology recode (:117-126); everything unmapped is a
#: renewable sub-technology fanned into RenewablesCap.
WEO_POWER_TECH_RECODE = {
    "Nuclear": "NuclearCap",
    "Coal": "CoalCap",
    "Gas CCGT": "GasCap",
}


def _global_mean_rows(df: DataFrame, keys: list[str]) -> DataFrame:
    """Mean over the published regional geographies, labeled Global
    (:77-92, :176-190) — appended, the regional rows stay. The raw
    WEO tables carry no Global row (that is why the mean exists), but
    guard anyway: pre-existing Global rows are excluded from the pool
    and series that already have one get no synthetic duplicate."""
    regional = df.filter(F.col("scenario_geography") != "Global")
    existing = (
        df.filter(F.col("scenario_geography") == "Global")
        .select(*keys)
        .distinct()
    )
    return (
        regional.groupBy(*keys)
        .agg(F.avg("price").alias("price"))
        .join(existing, keys, "left_anti")
        .withColumn("scenario_geography", F.lit("Global"))
    )


def wrangle_power_lcoe(
    power_wide: DataFrame, first_year: int = 2020
) -> DataFrame:
    """The power-LCOE half (:486-627, identical inside WEO2021
    :104-190): melt, LCOE filter, technology fan-in by MEAN (multiple
    wind/solar sub-techs → one RenewablesCap row), the
    GasCap→OilCap / RenewablesCap→HydroCap placeholder clones, LOCF
    down-fill, and the Global mean rows."""
    long = (
        melt_year_columns(
            power_wide,
            id_cols=[
                "source",
                "scenario",
                "region",
                "technology",
                "indicator",
                "unit",
            ],
            value_name="price",
        )
        .filter(F.col("year") >= first_year)
        .filter(F.col("indicator") == "LCOE")
        .withColumnRenamed("region", "scenario_geography")
        .withColumn(
            "technology",
            recode(
                "technology",
                WEO_POWER_TECH_RECODE,
                default=F.lit("RenewablesCap"),
            ),
        )
        .withColumn("sector", F.lit("Power"))
    )
    fanned = long.groupBy(
        "source",
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "unit",
        "year",
        "indicator",
    ).agg(F.avg("price").alias("price"))
    clones = fanned.filter(
        F.col("technology").isin("GasCap", "RenewablesCap")
    ).withColumn(
        "technology",
        recode(
            "technology", {"GasCap": "OilCap", "RenewablesCap": "HydroCap"}
        ),
    )
    both = union_by_name(fanned, clones)
    series = [
        "source",
        "technology",
        "unit",
        "scenario_geography",
        "scenario",
        "sector",
        "indicator",
    ]
    filled = fill_locf(both, series, "year", "price", direction="down")
    global_rows = _global_mean_rows(
        filled,
        ["source", "scenario", "year", "sector", "technology", "unit", "indicator"],
    )
    return union_by_name(filled, global_rows)


def _densify_and_interpolate(df: DataFrame) -> DataFrame:
    """Fixed [min, max] spine over the nesting keys + na.approx with
    dropped edges, then the no-NA / non-negative asserts
    (:196-244)."""
    dense = complete_spine(
        df, PRICE_SERIES_KEYS, "year", bounds="global"
    )
    interp = na_approx(
        dense, PRICE_SERIES_KEYS, "year", "price", na_rm=True
    )
    return interp


def wrangle_prices_weo2021(
    fossil_wide: DataFrame,
    power_wide: DataFrame,
    first_year: int = 2020,
) -> DataFrame:
    """prepare_price_data_long_WEO2021 (:11-246), full chain."""
    from trisk_datawrangle_spark.plans.prices import convert_units

    fossil = (
        melt_year_columns(
            fossil_wide,
            id_cols=["source", "sector", "unit", "scenario_geography", "scenario"],
            value_name="price",
        )
        .filter(F.col("year") >= first_year)
    )
    fossil = convert_units(fossil)
    fossil = (
        fossil.withColumnRenamed("sector", "technology")
        .withColumn("technology", recode("technology", WEO_FOSSIL_TECH_RECODE))
        .withColumn(
            "sector",
            F.when(F.col("technology") == "Coal", F.lit("Coal")).otherwise(
                F.lit("Oil&Gas")
            ),
        )
        .withColumn("indicator", F.lit("price"))
    )
    fossil_global = _global_mean_rows(
        fossil.filter(F.col("technology").isin("Gas", "Coal")),
        ["source", "scenario", "sector", "technology", "year", "unit", "indicator"],
    )
    fossil = union_by_name(fossil, fossil_global)
    power = wrangle_power_lcoe(power_wide, first_year)
    data = union_by_name(
        fossil.select(*PRICE_SERIES_KEYS, "year", "price"),
        power.select(*PRICE_SERIES_KEYS, "year", "price"),
    )
    return _densify_and_interpolate(data)


def wrangle_prices_ngfs(
    data: DataFrame,
    start_year: int,
    vintage: int = 2023,
    model_recode: Mapping[str, str] = NGFS_MODEL_RECODE_V4,
) -> DataFrame:
    """prepare_price_data_long_NGFS2023 (:247-309; the 2024 variant
    :311-374 differs only in model vocabulary and prefix). Expected
    input columns: Model, Scenario, Region, Unit, category_a,
    category_c, year, value."""
    shaped = data.select(
        recode("Scenario", NGFS_SCENARIO_RECODE).alias("scenario"),
        F.when(F.col("Region") == "World", F.lit("Global"))
        .otherwise(F.col("Region"))
        .alias("scenario_geography"),
        recode("Model", model_recode).alias("model"),
        F.when(F.col("category_c").isin("Oil", "Gas"), F.lit("Oil&Gas"))
        .when(F.col("category_c") == "Coal", F.lit("Coal"))
        .otherwise(F.col("category_c"))
        .alias("sector"),
        F.col("Unit").alias("unit"),
        F.col("category_c").alias("technology"),
        F.col("category_a").alias("indicator"),
        "year",
        "value",
    )
    series = [
        "scenario",
        "scenario_geography",
        "model",
        "sector",
        "unit",
        "technology",
        "indicator",
    ]
    dense = complete_spine(shaped, series, "year", bounds="group")
    interp = na_approx(dense, series, "year", "value", na_rm=False).filter(
        F.col("year") >= start_year
    )
    oil_gas = interp.filter(F.col("sector") == "Oil&Gas").withColumn(
        "unit", F.lit("$/GJ")
    )
    coal = (
        interp.filter(F.col("sector") == "Coal")
        .withColumn("value", F.col("value") / F.lit(0.03414368))
        .withColumn("unit", F.lit("$/tonnes"))
    )
    return (
        union_by_name(oil_gas, coal)
        .withColumnRenamed("value", "price")
        .withColumn(
            "scenario",
            F.concat(
                F.lit(f"NGFS{vintage}"),
                F.col("model"),
                F.lit("_"),
                F.col("scenario"),
            ),
        )
        .drop("model")
    )


def wrangle_prices_ipr(data: DataFrame, start_year: int) -> DataFrame:
    """prepare_price_data_long_IPR2023 (:376-483): only Global price
    series survive — coal as the mean over its published regions, gas
    as the mean of the regional-mean high and low series, oil as the
    mean over its high/low variants; then barrel/MMBtu → GJ. Expected
    input columns: Sub_variable_class_1, Variable_class, Scenario,
    Region, Units, year, value."""
    shaped = data.select(
        recode(
            "Sub_variable_class_1",
            {"Oil": "Oil", "Coal": "Coal", "Natural gas": "Gas"},
            default=F.lit(None),
        ).alias("technology"),
        F.when(F.col("Scenario") == "RPS", F.lit("IPR2023_RPS"))
        .when(F.col("Scenario") == "FPS", F.lit("IPR2023_FPS"))
        .alias("scenario"),
        F.col("Variable_class").alias("variable_class"),
        F.col("year").cast("int").alias("year"),
        F.col("value").alias("price"),
    ).filter(
        # off-vocabulary scenario labels would otherwise aggregate
        # into NULL-scenario global rows that join nowhere downstream
        F.col("scenario").isNotNull()
    )
    coal = (
        shaped.filter(F.col("technology") == "Coal")
        .groupBy("scenario", "variable_class", "year")
        .agg(F.avg("price").alias("price"))
        .select(
            "scenario",
            F.lit("price").alias("indicator"),
            "year",
            "price",
            F.lit("Global").alias("scenario_geography"),
            F.lit("Coal").alias("sector"),
            F.lit("Coal").alias("technology"),
            F.lit("USD / tonne").alias("unit"),
        )
    )
    gas = (
        shaped.filter(F.col("technology") == "Gas")
        .groupBy("scenario", "variable_class", "year")
        .agg(F.avg("price").alias("price"))
        .groupBy("scenario", "year")
        .agg(F.avg("price").alias("price"))
        .select(
            "scenario",
            F.lit("price").alias("indicator"),
            "year",
            "price",
            F.lit("Global").alias("scenario_geography"),
            F.lit("Oil&Gas").alias("sector"),
            F.lit("Gas").alias("technology"),
            F.lit("USD / MMBtu").alias("unit"),
        )
    )
    oil = (
        shaped.filter(F.col("technology") == "Oil")
        .groupBy("scenario", "year")
        .agg(F.avg("price").alias("price"))
        .select(
            "scenario",
            F.lit("price").alias("indicator"),
            "year",
            "price",
            F.lit("Global").alias("scenario_geography"),
            F.lit("Oil&Gas").alias("sector"),
            F.lit("Oil").alias("technology"),
            F.lit("USD / Barrel").alias("unit"),
        )
    )
    merged = union_by_name(union_by_name(coal, gas), oil)
    price, unit = F.col("price"), F.col("unit")
    converted = (
        F.when(unit == "USD / Barrel", price * F.lit(UNIT.BARREL_TO_GJ))
        .when(unit == "USD / MMBtu", price * F.lit(UNIT.MBTU_TO_GJ))
        .otherwise(price)
    )
    return (
        merged.withColumn("price", converted)
        .withColumn(
            "unit",
            recode(
                unit,
                {
                    "USD / Barrel": "GJ",
                    "USD / MMBtu": "GJ",
                    "USD / tonne": "usd/tonne",
                },
            ),
        )
        .filter(F.col("year") >= start_year)
    )


def ipr_prices_baseline(weo_prices: DataFrame) -> DataFrame:
    """prepare_price_data_long_IPR2023_baseline (:629-637): the IPR
    baseline is the WEO2021 STEPS price table relabeled."""
    return weo_prices.filter(
        F.col("scenario") == "WEO2021_STEPS"
    ).withColumn("scenario", F.lit("IPR2023_baseline"))


OXFORD_SCENARIO_RECODE = {
    "Oxford - fast_transition": "Oxford2021_fast",
    "Oxford - no_transition": "Oxford2021_base",
    "Oxford - slow_transition": "Oxford2021_slow",
}


def wrangle_prices_oxford(
    data: DataFrame,
    start_year: int,
    fit_lo: int = 2049,
    fit_hi: int = 2069,
    end_year: int = 2100,
) -> DataFrame:
    """prepare_price_data_long_Oxf2021 (:640-747): rename, scenario
    recode (slow dropped), $/MWh → GJ (Oil/Gas ÷3.6) and usd/tonne
    (Coal ÷0.122835), extension years to ``end_year`` filled by a
    per-(technology, scenario) OLS line fitted over
    [``fit_lo``, ``fit_hi``].

    The reference loops ``stats::lm`` per combination; here the fit
    is :func:`operators.interpolate.fit_window_extension` — one
    grouped aggregate over integer-exact sums, broadcast back,
    keyed by the FULL series (a second geography must get its own
    line, not a pooled one). Expected input columns: Technology,
    Sector, Scenario, Region, Year, LCOE."""
    from trisk_datawrangle_spark.operators.interpolate import (
        fit_window_extension,
    )
    from trisk_datawrangle_spark.plans.prices import convert_mwh_units

    base = data.select(
        F.col("Technology").alias("technology"),
        recode("Scenario", OXFORD_SCENARIO_RECODE, default=F.lit(None)).alias(
            "scenario"
        ),
        F.when(F.col("Region") == "World", F.lit("Global"))
        .otherwise(F.col("Region"))
        .alias("scenario_geography"),
        F.col("Year").cast("int").alias("year"),
        F.col("LCOE").alias("price"),
    ).withColumn(
        "sector",
        F.when(F.col("technology") == "Coal", F.lit("Coal")).when(
            F.col("technology").isin("Gas", "Oil"), F.lit("Oil&Gas")
        ),
    )
    base = convert_mwh_units(base.withColumn("unit", F.lit("$/MWh")))
    base = (
        base.withColumn("indicator", F.lit("price"))
        .filter(F.col("year") >= start_year)
        .filter(F.col("scenario") != "Oxford2021_slow")
        # the published horizon is the fit window's end; rows past it
        # would collide with the extension (the reference's add_years
        # assumes the data stops at fit_hi)
        .filter(F.col("year") <= fit_hi)
    )
    if end_year <= fit_hi:
        return base
    series_keys = [
        "technology", "scenario", "scenario_geography", "sector", "unit",
        "indicator",
    ]
    extension = (
        base.select(*series_keys)
        .distinct()
        .withColumn(
            "year",
            F.explode(F.sequence(F.lit(fit_hi + 1), F.lit(end_year))),
        )
        .withColumn("price", F.lit(None).cast("double"))
    )
    dense = union_by_name(base, extension)
    return fit_window_extension(
        dense, series_keys, "year", "price", fit_lo, fit_hi
    )


def create_automotive_prices(scenarios_analysis_input: DataFrame) -> DataFrame:
    """create_automotive_prices (:750-767): synthetic unit price for
    every Automotive (scenario, business unit, year) present in the
    scenario data."""
    return (
        scenarios_analysis_input.filter(F.col("ald_sector") == "Automotive")
        .select(
            "scenario",
            F.col("ald_sector").alias("sector"),
            F.col("ald_business_unit").alias("technology"),
            "year",
        )
        .distinct()
        .withColumn("price", F.lit(1.0))
        .withColumn("scenario_geography", F.lit("Global"))
        .withColumn("indicator", F.lit("price"))
        .withColumn("unit", F.lit("dummy"))
    )
