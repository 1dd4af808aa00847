"""Production/emissions pipeline → ``abcd_stress_test_input``
(SURVEY.md §3.1; reference entry ``prepare_abcd_data``,
R/prepare_abcd_stress_test_input.R:339-426 + upstream
R/prepare_asset_impact_data.R:201-244).

Input shape (FIXTURES.md §1): wide Equity-Ownership-by-year company
activity/emission tables. Output: the canonical long
(company, sector, business_unit, year) production + emission-factor
table (outputs_structure.dbml:24-37).

Plan: the rows shuffle on ``company_id``, and once more for the
emission-factor mean. Both wide inputs go through one
ingest (owner filter, recodes, year columns packed into one array),
are unioned with a side tag and repartitioned on ``company_id`` while
still one row per wide row. Every later step is an aggregate or a
window keyed by a superset of ``company_id``, so none of them
exchanges again:

- the melt is an ``inline`` of the packed years, the dedup-sum a
  ``groupBy``;
- emissions⋈production is a ``groupBy(KEYS, ald_location, year)``
  that collects each side, then explodes the pairs;
- the location rollup is a ``groupBy``;
- the fixed year spine is a per-series ``map(year → values)`` looked
  up over ``explode(sequence(lo, hi))``;
- interpolation, LOCF, the dead-series test, the asset ids and the
  first-year gate's value are windows within a company.

No step is a join on the series keys: with
``spark.sql.requireAllClusterKeysForCoPartition`` a join on
(company_id, x) re-shuffles both sides. Only the per-(sector,
business unit) emission-factor mean needs other companies' rows; it is
a window over (sector, business unit), the plan's second shuffle, and
the dead-series and first-year filters come after it. So no step runs
twice, and nothing is cached or broadcast.

Every sum is exact: ``sum(cast(x AS DECIMAL(38,18)))``, cast back to
double once, so the outputs do not depend on the order rows arrive in
(README "Determinism as a contract"). A value or sum of magnitude
1e20 or more does not fit that type and raises an error.
"""

from __future__ import annotations

import re
from collections.abc import Container, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from trisk_datawrangle_spark.functions.scalars import recode, safe_div
from trisk_datawrangle_spark.operators.interpolate import fill_locf, na_approx

#: Technology recode applied at ingest
#: (R/prepare_asset_impact_data.R:47-75).
TECHNOLOGY_RECODE: Mapping[str, str] = {
    "Gas": "GasCap",
    "Natural Gas Liquids": "Gas",
    "ICE Diesel": "ICE",
    "ICE Gasoline": "ICE",
    "ICE CNG": "ICE",
    "ICE Propane": "ICE",
    "ICE E85+": "ICE",
    "Hybrid No-Plug": "Hybrid",
    "Hybrid Plug-In": "Hybrid",
    "Fuel Cell": "FuelCell",
}

#: Sector recode (R/prepare_asset_impact_data.R:91-102).
SECTOR_RECODE: Mapping[str, str] = {
    "Oil&Gas": "Oil&Gas",
    "LDV": "Automotive",
    "HDV": "HDV",
}

#: Sectors kept in the canonical output
#: (R/prepare_abcd_stress_test_input.R:303-307).
DEFAULT_SECTORS: Sequence[str] = ("Power", "Oil&Gas", "Coal", "Automotive", "Steel")

KEYS = ["company_id", "company_name", "ald_sector", "ald_business_unit"]

#: the groups of the P9 first-year gate
#: (run_prepare_abcd_stress_test_input.R:107-111)
FIRST_YEAR_KEYS = ["company_id", "ald_business_unit", "ald_production_unit"]


#: a year column's name holds its year (melt_year_columns' pattern)
_YEAR = re.compile(r"(\d{4})")
_YEARS = "array<struct<year:int,value:double>>"


def _exact_sum(col: str, over: WindowSpec | None = None) -> Column:
    """Order-independent sum of a double column: exact in
    DECIMAL(38, 18), cast back to double once. NULL and NaN are
    skipped, as R's ``sum(na.rm = TRUE)``. A value or a sum that does
    not fit the type (magnitude 1e20 or more, or infinite) raises an
    error naming ``col``: with ANSI off the cast would make it NULL,
    and the sum would drop it silently."""
    x = F.col(col)
    dec = x.cast("decimal(38,18)")
    # a constant message: formatting the value into it cost about 1 s
    # more CPU per warm abcd run (perfbench seed-1 inputs, local[2])
    dec = F.when(
        x.isNotNull() & ~F.isnan(x) & dec.isNull(),
        F.raise_error(F.lit(f"abcd: a value of {col} does not fit DECIMAL(38, 18)")),
    ).otherwise(dec)
    total, n = F.sum(dec), F.count(dec)
    if over is not None:
        total, n = total.over(over), n.over(over)
    return F.when(
        total.isNull() & (n > 0),
        F.raise_error(F.lit(f"abcd: the sum of {col} does not fit DECIMAL(38, 18)")),
    ).otherwise(total).cast("double")


def _ingest(wide: DataFrame, years: Container[int] | None = None) -> DataFrame:
    """The ingest both wide AR tables share: drop unknown owners,
    recode technologies/sectors, and pack the ``Equity Ownership
    YYYY`` columns (those in ``years``, default all) into one
    ``__years`` array of (year, value) structs. Packing instead of
    melting keeps one row per wide row, so the rows can be shuffled
    before the melt, and two tables with different year columns union
    without NULL rows for the years only one of them has."""
    cols = {c: int(m.group(1)) for c in wide.columns if (m := _YEAR.search(c))}
    if not cols:
        raise ValueError(f"no columns match {_YEAR.pattern!r}")
    packed = F.array(*[
        F.struct(F.lit(y).alias("year"), F.col(f"`{c}`").cast("double").alias("value"))
        for c, y in cols.items()
        if years is None or y in years
    ]).cast(_YEARS)
    return wide.filter(F.col("company_name") != "Unknown Owner").select(
        "company_id",
        "company_name",
        recode("ald_sector", SECTOR_RECODE).alias("ald_sector"),
        recode("ald_business_unit", TECHNOLOGY_RECODE).alias("ald_business_unit"),
        "ald_location",
        "activity_unit",
        packed.alias("__years"),
    )


def prepare_asset_impact_data(
    wide: DataFrame,
    value_name: str = "value",
) -> DataFrame:
    """Ingest one wide AR table (activities or emissions): recode
    technologies/sectors, drop unknown owners, melt the
    ``Equity Ownership YYYY`` columns, and aggregate duplicate keys
    with sum-or-all-NULL semantics
    (R/prepare_asset_impact_data.R:201-244 + the ``.sum_or_all_nans``
    aggregation at R/prepare_abcd_stress_test_input.R:8-14,39-46 —
    SQL ``sum`` has exactly those semantics: nulls are ignored and an
    all-null group yields NULL, SURVEY.md §2.4 A2). The sum is exact,
    as every sum in this module.
    """
    long = _ingest(wide).select(
        *KEYS, "ald_location", "activity_unit", F.inline("__years")
    )
    return long.groupBy(*KEYS, "ald_location", "activity_unit", "year").agg(
        _exact_sum("value").alias(value_name)
    )


def filter_countries_coverage(
    ar_data: DataFrame,
    company_informations: DataFrame | None = None,
    country_filter: Sequence[str] = (),
    filter_hqs: bool = False,
    filter_assets: bool = False,
) -> DataFrame:
    """Optional country scoping of Asset-Impact data
    (R/prepare_asset_impact_data.R:156-195,
    vignettes/country_specific_dataprep.Rmd:84-99).

    - ``filter_hqs``: keep only companies whose ultimate parent (HQ)
      is located in ``country_filter`` — subsidiaries are filtered
      out of the HQ set — while their assets may be worldwide.
      Implemented as a broadcast left-semi join on the distinct HQ
      company-id list (the company-information sheet is a dimension
      table by construction).
    - ``filter_assets``: keep only asset rows located in
      ``country_filter`` (a plain pushed-down filter).
    - both: the intersection.

    A no-op when ``country_filter`` is empty or both flags are off,
    exactly like the reference."""
    country_filter = list(country_filter)
    if not country_filter or not (filter_hqs or filter_assets):
        return ar_data
    if filter_hqs:
        if company_informations is None:
            raise ValueError(
                "filter_hqs=True needs company_informations "
                "(company_id, ald_location, is_ultimate_parent)"
            )
        hqs = hq_company_ids(company_informations, country_filter)
        ar_data = ar_data.join(F.broadcast(hqs), "company_id", "left_semi")
    if filter_assets:
        ar_data = ar_data.filter(F.col("ald_location").isin(*country_filter))
    return ar_data


def hq_company_ids(
    company_informations: DataFrame, country_filter: Sequence[str]
) -> DataFrame:
    """Distinct ultimate-parent company ids headquartered in
    ``country_filter``: the HQ dimension ``filter_countries_coverage``
    semi-joins."""
    return (
        company_informations.filter(
            F.col("ald_location").isin(*list(country_filter))
            & F.col("is_ultimate_parent")
        )
        .select("company_id")
        .distinct()
    )


def prepare_abcd_data(
    activities_wide: DataFrame,
    emissions_wide: DataFrame,
    start_year: int = 2022,
    time_horizon: int = 5,
    sectors: Sequence[str] = DEFAULT_SECTORS,
    company_informations: DataFrame | None = None,
    country_filter: Sequence[str] = (),
    filter_hqs: bool = False,
    filter_assets: bool = False,
) -> DataFrame:
    """Full §3.1 chain: melt → dedup-sum → [optional country scoping,
    vignettes/country_specific_dataprep.Rmd:84-99] →
    emissions⋈production full outer join → location rollup →
    year-spine completion → interpolate + LOCF + zero-fill →
    emission factors (with per-(sector, unit) mean imputation) →
    drop dead series → asset ids
    (R/prepare_abcd_stress_test_input.R:339-426) → keep the series
    whose first-year production is positive over
    :data:`FIRST_YEAR_KEYS` (P9, the reference driver's gate,
    run_prepare_abcd_stress_test_input.R:107-111). The module
    docstring gives the plan.

    Rows that cannot reach the output are dropped at ingest: years
    outside the model horizon (the fixed spine leaves them out), sectors
    outside ``sectors`` (the EF mean is per sector), and rows with a
    NULL key or location (they match nothing and roll up into a
    series with a NULL key, which never survives).
    """
    lo, hi = start_year, start_year + time_horizon
    years = range(lo, hi + 1)
    # the asset-id order leads, so one sort serves every window
    series_keys = [
        "company_id", "ald_sector", "ald_business_unit",
        "ald_production_unit", "company_name",
    ]

    emissions = _ingest(emissions_wide, years).filter(
        F.col("activity_unit").isin("tCO2", "tCO2e")
    )
    rows = (
        _ingest(activities_wide, years).withColumn("__emis", F.lit(False))
        .unionByName(emissions.withColumn("__emis", F.lit(True)))
        .filter(F.col("ald_sector").isin(*sectors))
        # a NULL key or location matches nothing downstream
        .filter(" AND ".join(
            f"{c} IS NOT NULL" for c in KEYS + ["ald_location", "activity_unit"]
        ))
    )
    rows = filter_countries_coverage(
        rows, company_informations, country_filter, filter_hqs, filter_assets
    )
    # the stage's one shuffle: everything after it is keyed by a
    # superset of company_id
    long = rows.repartition("company_id").select(
        *KEYS, "ald_location", "activity_unit", "__emis", F.inline("__years")
    )
    deduped = long.groupBy(
        *KEYS, "ald_location", "activity_unit", "__emis", "year"
    ).agg(_exact_sum("value").alias("value"))

    # emissions⋈production on the natural keys (J3,
    # prepare_abcd_stress_test_input.R:55-83) as a grouping: each
    # production row pairs with every emissions row of its key, or
    # with none. activity_unit differs by construction (production
    # units vs tCO2), so it rides along rather than joining. A key
    # with emissions only becomes a series with a NULL production
    # unit, which never survives, so `explode` drops it here.
    def side(emis: bool) -> Column:
        return F.collect_list(
            F.when(F.col("__emis") == emis, F.struct("activity_unit", "value"))
        )

    pairs = (
        deduped.groupBy(*KEYS, "ald_location", "year")
        .agg(side(False).alias("__prod"), side(True).alias("__emis"))
        .select(
            *KEYS, "ald_location", "year", "__emis",
            F.explode("__prod").alias("__p"),
        )
        .select(
            *KEYS, "ald_location", "year",
            F.col("__p.activity_unit").alias("ald_production_unit"),
            F.col("__p.value").alias("plan_tech_prod"),
            F.explode_outer("__emis").alias("__e"),
        )
    )

    # roll production/emissions up over locations
    # (prepare_abcd_stress_test_input.R:369-371, :246-259); the HQ
    # country (first location in key order) is kept as country_iso2.
    # min, not first(ignorenulls): first over an unordered aggregate
    # is partition-order dependent — a company reporting tCO2 in one
    # location and tCO2e in another would flip units between runs.
    # Every wide row has every year, so both are the same for each
    # year of a series and are taken per series.
    rolled = pairs.groupBy(*series_keys, "year").agg(
        _exact_sum("plan_tech_prod").alias("plan_tech_prod"),
        _exact_sum("__e.value").alias("plan_emissions"),
        F.min("ald_location").alias("country_iso2"),
        F.min("__e.activity_unit").alias("emissions_unit"),
    )

    # dense year spine over the model horizon (T1 fixed bounds,
    # :95-106), then interior interpolation, LOCF to the right edge,
    # and zero for years before the first observation (:267-295).
    by_year = F.struct("year", F.struct("plan_tech_prod", "plan_emissions"))
    at_year = F.col("__by_year")[F.col("year")]
    dense = (
        rolled.groupBy(*series_keys)
        .agg(
            F.map_from_entries(F.collect_list(by_year)).alias("__by_year"),
            F.min("country_iso2").alias("country_iso2"),
            F.min("emissions_unit").alias("emissions_unit"),
        )
        .select(
            *series_keys, "country_iso2", "emissions_unit", "__by_year",
            F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias("year"),
        )
        .select(
            *series_keys, "country_iso2", "emissions_unit", "year",
            at_year["plan_tech_prod"].alias("plan_tech_prod"),
            at_year["plan_emissions"].alias("plan_emissions"),
        )
    )
    for col in ("plan_tech_prod", "plan_emissions"):
        dense = na_approx(dense, series_keys, "year", col, na_rm=False)
        dense = fill_locf(dense, series_keys, "year", col, direction="down")
        dense = dense.withColumn(col, F.coalesce(F.col(col), F.lit(0.0)))

    # emission factor = emissions / production; 0-production rows get
    # NULL (R Inf/NaN re-expressed, SURVEY.md §7.3.3)
    with_ef = dense.withColumn(
        "plan_emission_factor", safe_div("plan_emissions", "plan_tech_prod")
    ).withColumn(
        "emissions_factor_unit",
        F.concat_ws(
            "/", F.coalesce("emissions_unit", F.lit("tCO2")), "ald_production_unit"
        ),
    )

    # within a company: mark the series whose production never
    # exceeds zero (A9 + J4, :216-237), number the live ones (W4,
    # :309-320: one id per series over the pinned natural-key order,
    # SURVEY.md §7.3.2) and take their first-year production (P9)
    alive = _exact_sum("plan_tech_prod", Window.partitionBy(*series_keys)) > 0
    first_year = (
        Window.partitionBy(*FIRST_YEAR_KEYS, "__alive")
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    marked = with_ef.withColumn("__alive", alive).select(
        "*",
        F.dense_rank()
        .over(Window.partitionBy("company_id", "__alive").orderBy(*series_keys[1:]))
        .alias("__rank"),
        F.first("plan_tech_prod").over(first_year).alias("__first"),
    )
    # missing factors are mean-imputed per (sector, business_unit)
    # over every series (:130-169); the gates filter after it
    by_unit = Window.partitionBy("ald_sector", "ald_business_unit")
    mean_ef = _exact_sum("plan_emission_factor", by_unit) / F.count(
        "plan_emission_factor"
    ).over(by_unit)
    imputed = marked.withColumn(
        "plan_emission_factor", F.coalesce("plan_emission_factor", mean_ef)
    )
    return imputed.filter(F.col("__alive") & (F.col("__first") > 0)).select(
        "company_id",
        "company_name",
        "ald_sector",
        "ald_business_unit",
        "country_iso2",
        F.concat_ws("_", "company_id", "__rank").alias("asset_id"),
        F.lit("Global").alias("scenario_geography"),
        "year",
        "ald_production_unit",
        "emissions_factor_unit",
        "plan_tech_prod",
        "plan_emission_factor",
    )
